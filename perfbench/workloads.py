"""The benchmark's workloads and the check of every op's output.

A workload is a fixed set of ops that one closed-loop client issues once
per pass; the seed only shuffles their order. Every op's output is
checked after its timed region:

- a registry query with an oracle must be multiset-equal to the DuckDB
  oracle over the same parquet files, canonicalized as in
  tests/test_parity.py;
- a rows-only query must return the same row count on every pass;
- an ETL op must return the row counts DuckDB computes over the inputs,
  and a round trip must read back the source multiset.
"""

from __future__ import annotations

import math
import os
from collections import Counter
from dataclasses import dataclass
from datetime import date, datetime
from decimal import Decimal
from typing import Any, Callable, Optional

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class Op:
    name: str
    layer: str  # "operators", "streaming", "pipeline" or "sinks"
    # A registry query is built, planned and executed by the runner; any
    # other op is a call ``run(ctx)`` whose result goes to ``check``.
    run: Optional[Callable[["Context"], Any]] = None
    check: Optional[Callable[["Context", Any], Optional[str]]] = None

    @property
    def is_query(self) -> bool:
        return self.run is None


@dataclass(frozen=True)
class Workload:
    name: str
    tables: tuple[str, ...]  # base tables cached during set-up
    # Nominal warm pass seconds on 2 cores. It turns --seconds into a
    # fixed warm-pass count, so every run with the same --seconds draws
    # the same mix of op samples.
    warm_pass_s: float
    ops: tuple[Op, ...]

    def warm_passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.warm_pass_s))


class Context:
    """What an op needs: the current session, the input directory, an
    output directory per op, the tracer, and the DuckDB oracle connection.
    Oracle results outlive sessions."""

    def __init__(self, sf_dir: str, out_dir: str, tracer) -> None:
        import duckdb

        from data_pipeline_etl_spark.sources.tables import TABLE_NAMES

        self.spark = None
        self.sf_dir = sf_dir
        self.out_dir = out_dir
        self.tracer = tracer
        self.duck = duckdb.connect()
        for t in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._expected: dict[str, Any] = {}

    def out(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def expected(self, key: str, compute: Callable[[], Any]) -> Any:
        """An oracle result, computed once per run outside timed regions."""
        if key not in self._expected:
            self._expected[key] = compute()
        return self._expected[key]


# -- canonicalization (same rules as tests/test_parity.py) -----------------


def canon_value(v):
    if v is None:
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (np.integer, int)):
        return int(v)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, (pd.Timestamp, datetime)):
        if v is pd.NaT or (isinstance(v, pd.Timestamp) and pd.isna(v)):
            return None
        return pd.Timestamp(v).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon_value(x) for x in v)
    if v is pd.NaT:
        return None
    return v


def canon_frame(df: pd.DataFrame) -> Counter:
    cols = sorted(df.columns)
    return Counter(
        tuple(canon_value(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )


def _diff(got: Counter, want: Counter) -> str:
    extra = list((got - want).keys())[:2]
    missing = list((want - got).keys())[:2]
    return f"unexpected={extra} missing={missing}"


def check_oracle(ctx: Context, name: str, result: pd.DataFrame) -> Optional[str]:
    from data_pipeline_etl_spark.registry import ORACLES

    def oracle() -> tuple[list[str], Counter]:
        d = ctx.duck.sql(ORACLES[name]).df()
        return sorted(d.columns), canon_frame(d)

    want_cols, want = ctx.expected(name, oracle)
    if sorted(result.columns) != want_cols:
        return f"columns {sorted(result.columns)} != oracle {want_cols}"
    got = canon_frame(result)
    return None if got == want else f"oracle mismatch: {_diff(got, want)}"


def check_rows_only(ctx: Context, name: str, result: pd.DataFrame) -> Optional[str]:
    first = ctx.expected(f"rows:{name}", lambda: len(result))
    return None if len(result) == first else f"{len(result)} rows, pass 1 had {first}"


def check_query(ctx: Context, name: str, result: pd.DataFrame) -> Optional[str]:
    from data_pipeline_etl_spark.registry import ORACLES

    if name in ORACLES:
        return check_oracle(ctx, name, result)
    return check_rows_only(ctx, name, result)


def _sorted_exact(df: pd.DataFrame) -> pd.DataFrame:
    """Columns as bit-exact comparable arrays, rows in a canonical order:
    a vectorized multiset form for frames too large for canon_frame."""
    cols = {}
    for c in sorted(df.columns):
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            cols[c] = s.to_numpy(dtype="datetime64[ns]").view("int64")
        elif pd.api.types.is_float_dtype(s):
            cols[c] = s.to_numpy(dtype="float64").view("int64")
        elif pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            cols[c] = s.to_numpy(dtype="int64")
        else:
            cols[c] = s.astype(str).to_numpy()
    out = pd.DataFrame(cols)
    return out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)


def check_same_multiset(want: pd.DataFrame, got: pd.DataFrame) -> Optional[str]:
    """``want`` is the source rows in _sorted_exact form."""
    if sorted(got.columns) != list(want.columns):
        return f"columns {sorted(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows read back, source has {len(want)}"
    if not _sorted_exact(got).equals(want):
        return "read-back rows differ from the source rows"
    return None


def check_counts(want: dict[str, int], got: dict[str, int]) -> Optional[str]:
    return None if got == want else f"counts {got} != oracle {want}"


# -- ETL ops ---------------------------------------------------------------

_TEXT_COUNTS_SQL = r"""
WITH d AS (
  SELECT doc_id, text,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
  FROM documents),
dedup AS (
  SELECT * FROM d QUALIFY row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1),
kept AS (
  SELECT * FROM dedup
  WHERE len(string_split(text, ' ')) >= 20
    AND len(list_distinct(string_split(text, ' ')))::DOUBLE
        / len(string_split(text, ' ')) >= 0.2)
SELECT (SELECT count(*) FROM documents) AS raw,
       (SELECT count(*) FROM dedup) AS after_dedup,
       (SELECT count(*) FROM kept) AS after_quality,
       (SELECT count(*) FROM kept) AS written
"""


def _duck_counts(ctx: Context, sql: str) -> dict[str, int]:
    row = ctx.duck.sql(sql).df().iloc[0]
    return {k: int(v) for k, v in row.items()}


def _run_text(ctx: Context) -> dict[str, int]:
    from data_pipeline_etl_spark.plans import pipeline

    with ctx.tracer.span("pipeline.run_text_pipeline"):
        return pipeline.run_text_pipeline(ctx.spark, ctx.sf_dir, ctx.out("run_text_pipeline"))


def _check_text(ctx: Context, got: dict[str, int]) -> Optional[str]:
    return check_counts(
        ctx.expected("run_text_pipeline", lambda: _duck_counts(ctx, _TEXT_COUNTS_SQL)), got
    )


def _roundtrip_csv(ctx: Context) -> pd.DataFrame:
    from data_pipeline_etl_spark.sources import sinks
    from data_pipeline_etl_spark.sources.tables import table

    src = table(ctx.spark, ctx.sf_dir, "lineitem")
    with ctx.tracer.span("sinks.roundtrip_csv"):
        back = sinks.roundtrip_csv(src, ctx.spark, ctx.out("roundtrip_csv"))
    with ctx.tracer.span("sinks.read_back"):
        return back.toPandas()


def _check_roundtrip(ctx: Context, got: pd.DataFrame) -> Optional[str]:
    want = ctx.expected(
        "lineitem", lambda: _sorted_exact(ctx.duck.sql("SELECT * FROM lineitem").df())
    )
    return check_same_multiset(want, got)


def _query(name: str, layer: str = "operators") -> Op:
    return Op(name=name, layer=layer)


# Exercises session artifacts (first-touch builds, nested), pair
# generation and multi-job ops: where artifact and job-fusion changes show.
LLM_DEDUP_SIM = Workload(
    name="llm_dedup_sim",
    tables=("documents",),
    warm_pass_s=2.0,
    ops=tuple(
        _query(n)
        for n in (
            "q_dedup_minhash",  # rows-only; hashing-heavy corpus scan
            "q_dedup_lsh_candidates",  # LSH band pair generation
            "q_dedup_containment",  # set-similarity self-join (unigram artifact)
            "q_sim_jaccard",  # reads the neardup artifact, built over unigram
        )
    ),
)

# The write path and a streaming drain. It builds no session artifacts, so
# an artifact change should leave it unchanged.
ETL_LOAD = Workload(
    name="etl_load",
    tables=("documents", "lineitem"),
    warm_pass_s=3.0,
    ops=(
        Op("run_text_pipeline", "pipeline", _run_text, _check_text),
        Op("roundtrip_csv", "sinks", _roundtrip_csv, _check_roundtrip),
        _query("q_stream_tumbling_live", "streaming"),
    ),
)

WORKLOADS = {w.name: w for w in (LLM_DEDUP_SIM, ETL_LOAD)}
