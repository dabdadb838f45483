"""Source-loading contracts (sources/tables.py).

The round-4 fixture regeneration silently switched events.ts from INT64
TIMESTAMP(NANOS) to TIMESTAMP(MICROS) — an unconditional ns->µs division
then broke every events query. These tests synthesize BOTH generations
and pin that the loader's arriving-type dispatch yields identical NTZ
timestamps either way, for the batch loader and the events stream alike.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_pipeline_etl_spark.sources import tables as T
from data_pipeline_etl_spark.streaming.batch_windows import _events_stream
from data_pipeline_etl_spark.streaming.jobs import run_to_memory_sink


_TS = [
    datetime.datetime(2024, 1, 1, 0, 0, 0),
    datetime.datetime(2024, 1, 15, 12, 34, 56, 789012),
    datetime.datetime(2024, 1, 30, 23, 59, 59, 999999),
]


def _write_events(dirpath: str, unit: str) -> None:
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(_TS, pa.timestamp(unit)),
            "user_id": pa.array([10, 20, 30], pa.int64()),
            "event_type": pa.array(["view", "click", "purchase"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(['{"k": 1}', '{"k": 2}', '{"k": 3}']),
        }
    )
    pq.write_table(tbl, os.path.join(dirpath, "events.parquet"))


@pytest.mark.parametrize("unit", ["ns", "us", "ms"])
def test_events_ts_dispatch_all_generations(spark, tmp_path, unit):
    """ns (round 1-3 fixtures), us (round 4+), and ms (never shipped, but
    the obvious next mutation) must all load to identical NTZ values —
    modulo the precision the physical type can carry (ms keeps only
    millisecond precision; values compare after truncating expectations
    the same way)."""
    sf_dir = tmp_path / f"gen_{unit}"
    sf_dir.mkdir()
    _write_events(str(sf_dir), unit)
    if unit == "ms":
        want = [t.replace(microsecond=t.microsecond // 1000 * 1000) for t in _TS]
    else:
        want = _TS
    df = T.table(spark, str(sf_dir), "events")
    assert str(df.schema["ts"].dataType) == "TimestampNTZType()"
    got = sorted(r["ts"] for r in df.select("ts").collect())
    assert got == want, (unit, got)

    # the live queries' stream over the same file drains to the same values
    stream = _events_stream(spark, str(sf_dir))
    assert str(stream.schema["ts"].dataType) == "TimestampNTZType()"
    run_to_memory_sink(stream.select("ts"), f"ts_gen_{unit}", "append")
    got = sorted(r["ts"] for r in spark.table(f"ts_gen_{unit}").collect())
    assert got == want, (unit, "stream", got)
