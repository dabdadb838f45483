from __future__ import annotations

import os
import sys
import uuid

import duckdb
import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from data_pipeline_etl_spark.session import get_spark  # noqa: E402
from data_pipeline_etl_spark.sources.tables import TABLE_NAMES  # noqa: E402

# Parity runs at the driver's t2 scale factor by default (sf0.01) so local
# green == driver green; override with PARITY_SF_DIR for quick iterations.
SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def count_jobs(spark, fn):
    """Run ``fn()`` under a job group of its own; return its result and the
    number of Spark jobs it launched, read through ``statusTracker()``."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events arrive async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("parity-tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
