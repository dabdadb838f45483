"""The end-to-end ETL pipeline (reference analog: the genre's ``etl.py``
driver, SURVEY.md §3.1 — staging → dimension load → fact load → data
quality), re-expressed as one lazily-composed Spark job graph.

Where the reference materializes each step into warehouse tables via
hand-ordered INSERT...SELECTs, here every step is a DataFrame; only the
final loads write, each as partitioned parquet. Catalyst fuses the whole
lineage — staging filters push into the scans of every downstream load.

Scale: dimension builds broadcast their lookups; the fact build is one
orderkey shuffle (bucket-able, see tests/test_bucketing.py); loads write
partitioned by the query-pruning key. The quality gate reuses q_dq_checks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_etl_spark.sources.tables import table


def build_customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denormalized customer dimension: customer + nation + region."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            "c_acctbal",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )


def build_time_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's signature transform: a time dimension derived from
    the fact dates (hour/day/week/month/year/weekday)."""
    o = table(spark, sf_dir, "orders")
    d = o.select(F.col("o_orderdate").alias("ts")).distinct()
    return d.select(
        "ts",
        F.year("ts").cast("long").alias("year"),
        F.quarter("ts").cast("long").alias("quarter"),
        F.month("ts").cast("long").alias("month"),
        F.dayofmonth("ts").cast("long").alias("day"),
        F.weekofyear("ts").cast("long").alias("week"),
        F.dayofweek("ts").cast("long").alias("weekday"),
    )


def build_order_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact table: one row per order with line-level measures rolled up."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    measures = l.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        ),
        F.sum("l_quantity").alias("total_qty"),
    )
    return o.join(measures, o.o_orderkey == measures.l_orderkey, "left").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        F.coalesce("total_qty", F.lit(0.0)).alias("total_qty"),
    )


def run_etl(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Full load: dims + fact written as partitioned parquet, then the
    data-quality gate. Returns per-table row counts (the genre's run log).
    Raises if any quality check fails — the reference's post-load assert."""
    from data_pipeline_etl_spark.operators.quality import q_dq_checks

    customer_dim = build_customer_dim(spark, sf_dir)
    time_dim = build_time_dim(spark, sf_dir)
    fact = build_order_fact(spark, sf_dir)

    customer_dim.write.mode("overwrite").parquet(os.path.join(out_dir, "customer_dim"))
    time_dim.write.mode("overwrite").partitionBy("year").parquet(
        os.path.join(out_dir, "time_dim")
    )
    (
        fact.withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(os.path.join(out_dir, "order_fact"))
    )

    bad = {
        r["check_name"]: r["n_bad"]
        for r in q_dq_checks(spark, sf_dir).collect()
        if r["n_bad"] > 0
    }
    if bad:
        raise ValueError(f"data quality violations: {bad}")

    return {
        name: spark.read.parquet(os.path.join(out_dir, name)).count()
        for name in ("customer_dim", "time_dim", "order_fact")
    }


def merge_upsert(
    current: DataFrame, updates: DataFrame, key: str, ordering: str
) -> DataFrame:
    """SCD-1 merge (upsert) without a table format: last-writer-wins by
    ``ordering`` across the union of current rows and updates.

    On a cluster this is the parquet-native merge: union + window keeps
    it one shuffle on the key; with Delta/Iceberg the same call becomes
    MERGE INTO. Deterministic given a unique (key, ordering) pair.
    """
    from pyspark.sql import Window

    tagged = current.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    w = Window.partitionBy(key).orderBy(F.desc("__src"), F.desc(ordering))
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def run_text_pipeline(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Training-data pipeline composition: dedup → quality filter →
    featurize → partitioned write. Each stage is one of the declared
    operators' building blocks; this function is the end-to-end shape a
    100 TB corpus run takes (per-stage row accounting like the genre's
    run log).

    The write is the only job over the corpus. The funnel counts ride on
    it as one ``observe`` on the row-numbered frame — after the dedup
    window, before the row filters — so raw, deduped and quality-passing
    rows are counted in the write's own post-shuffle result stage, where
    Spark applies each task's metrics exactly once. A count per stage
    would re-run the window subtree once per action. The read-back passes
    the written schema, so it launches no schema-inference job.
    """
    from pyspark.sql import Observation, Window

    d = table(spark, sf_dir, "documents")

    # 1. exact dedup on normalized content hash (keep min doc_id per hash)
    h = F.md5(F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))))
    w = Window.partitionBy("h").orderBy("doc_id")
    first = F.col("rn") == 1

    # 2. quality gate: enough tokens, sane type/token ratio
    toks = F.split("text", " ")
    good = (F.size(toks) >= 20) & (
        F.size(F.array_distinct(toks)) / F.size(toks).cast("double") >= 0.2
    )

    funnel = Observation()
    numbered = (
        d.withColumn("h", h)
        .withColumn("rn", F.row_number().over(w))
        .observe(
            funnel,
            F.count(F.lit(1)).alias("raw"),
            F.count_if(first).alias("after_dedup"),
            F.count_if(first & good).alias("after_quality"),
        )
    )
    quality = numbered.where(first).drop("h", "rn").where(good)

    # 3. featurize: token count + language marker + content digest
    featured = quality.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.md5("text").alias("digest"),
    )

    # 4. load: partitioned by lang (the downstream sampling key)
    featured.write.mode("overwrite").partitionBy("lang").parquet(out_dir)
    n_written = spark.read.schema(featured.schema).parquet(out_dir).count()
    return {**funnel.get, "written": n_written}
