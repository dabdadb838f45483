"""End-to-end ETL pipeline test (reference lifecycle analog, SURVEY.md §3.1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_etl_spark.plans import pipeline
from data_pipeline_etl_spark.sources.tables import table
from tests.conftest import SF_DIR, count_jobs


def test_full_etl_run(spark, tmp_path):
    out = str(tmp_path / "warehouse")
    counts = pipeline.run_etl(spark, SF_DIR, out)
    n_cust = table(spark, SF_DIR, "customer").count()
    n_orders = table(spark, SF_DIR, "orders").count()
    assert counts["customer_dim"] == n_cust
    assert counts["order_fact"] == n_orders
    n_dates = table(spark, SF_DIR, "orders").select("o_orderdate").distinct().count()
    assert counts["time_dim"] == n_dates

    # fact measures reconcile with the source
    fact = spark.read.parquet(f"{out}/order_fact")
    src_rev = (
        table(spark, SF_DIR, "lineitem")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2))
        .collect()[0][0]
    )
    fact_rev = fact.agg(F.round(F.sum("revenue"), 2)).collect()[0][0]
    assert abs(fact_rev - src_rev) < 1.0  # per-order rounding to 4dp accumulates

    # partition layout prunes
    pruned = fact.where(F.col("o_year") == 1997)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_dq_gate_catches_violations(spark, tmp_path):
    """Corrupt staging data must fail the quality gate (orphan FK)."""
    import pytest
    from data_pipeline_etl_spark.operators import quality
    from data_pipeline_etl_spark.sources import tables

    bad_dir = str(tmp_path / "bad_sf")
    for t in ("orders", "customer", "lineitem"):
        df = table(spark, SF_DIR, t)
        if t == "orders":
            # point some orders at a customer that doesn't exist
            df = df.withColumn(
                "o_custkey",
                F.when(F.col("o_orderkey") % 100 == 0, F.lit(999999999)).otherwise(
                    F.col("o_custkey")
                ),
            )
        df.write.mode("overwrite").parquet(f"{bad_dir}/{t}.parquet")

    checks = {r["check_name"]: r["n_bad"] for r in quality.q_dq_checks(spark, bad_dir).collect()}
    assert checks["orders_orphan_custkey"] > 0
    assert checks["customer_dup_pk"] == 0


def test_merge_upsert_scd1(spark):
    """Upsert: updates override current rows on the key; new keys insert."""
    cur = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k INT, v STRING, ver INT"
    )
    upd = spark.createDataFrame(
        [(2, "B", 21), (4, "d", 1)], "k INT, v STRING, ver INT"
    )
    out = {
        r["k"]: (r["v"], r["ver"])
        for r in pipeline.merge_upsert(cur, upd, "k", "ver").collect()
    }
    assert out == {1: ("a", 10), 2: ("B", 21), 3: ("c", 30), 4: ("d", 1)}


def test_merge_upsert_idempotent(spark):
    cur = spark.createDataFrame([(1, "a", 10)], "k INT, v STRING, ver INT")
    upd = spark.createDataFrame([(1, "A", 11)], "k INT, v STRING, ver INT")
    once = pipeline.merge_upsert(cur, upd, "k", "ver")
    twice = pipeline.merge_upsert(once, upd, "k", "ver")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


# The text pipeline's funnel restated in DuckDB over the same parquet file.
_TEXT_FUNNEL_SQL = r"""
WITH d AS (
  SELECT doc_id, text,
         row_number() OVER (
           PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
           ORDER BY doc_id) AS rn
  FROM read_parquet('{path}')),
dedup AS (SELECT text FROM d WHERE rn = 1),
kept AS (
  SELECT * FROM dedup
  WHERE len(string_split(text, ' ')) >= 20
    AND len(list_distinct(string_split(text, ' ')))::DOUBLE
        / len(string_split(text, ' ')) >= 0.2)
SELECT (SELECT count(*) FROM d) AS raw,
       (SELECT count(*) FROM dedup) AS after_dedup,
       (SELECT count(*) FROM kept) AS after_quality,
       (SELECT count(*) FROM kept) AS written
"""


def test_text_pipeline_composition(spark, duck, tmp_path):
    out = str(tmp_path / "corpus")
    counts = pipeline.run_text_pipeline(spark, SF_DIR, out)
    # every funnel count, observed or read back, equals the oracle's
    row = duck.sql(_TEXT_FUNNEL_SQL.format(path=f"{SF_DIR}/documents.parquet")).df()
    want = {k: int(v) for k, v in row.iloc[0].items()}
    assert counts == want
    assert counts["after_quality"] > 0
    # partition layout by lang prunes
    back = spark.read.parquet(out)
    assert set(back.columns) == {"doc_id", "lang", "source", "n_tokens", "digest"}
    plan = back.where(F.col("lang") == "en")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_text_pipeline_job_budget(spark, tmp_path):
    """One call is one write job plus a schema-given read-back: at most 4
    Spark jobs (AQE runs the shuffle map stage of each as a job of its
    own). A count per funnel stage re-runs the dedup window per action,
    and a read-back without a schema adds an inference job."""
    table(spark, SF_DIR, "documents")  # the session's source read, shared
    _, n_jobs = count_jobs(
        spark, lambda: pipeline.run_text_pipeline(spark, SF_DIR, str(tmp_path / "corpus"))
    )
    assert n_jobs <= 4, n_jobs
