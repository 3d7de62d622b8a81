"""Driver test-table loader (TPC-H-ish parquet, see TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _ns_timestamp_cols(path: str) -> list[str]:
    """Column names stored as TIMESTAMP(NANOS) — Spark can't read those
    natively; we read them as long and convert (truncate) to micros."""
    import pyarrow.parquet as pq

    try:
        schema = pq.read_schema(path)
    except Exception:
        return []
    return [f.name for f in schema if str(f.type) == "timestamp[ns]"]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _ns_timestamp_cols(path)
    if not ns_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        # integer div: double division would lose precision at ns-epoch scale
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def fan_out(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Round-robin repartition before a COMPUTE-BOUND stage.

    Parquet scan parallelism is bounded by row-group count; the test
    tables are single-row-group files, so an expensive per-row stage
    (shingle hashing, codec decode, minhash) directly over the scan runs
    on one core. When per-row compute cost >> shuffle cost per byte —
    true for these stages at any scale — an explicit repartition of the
    compact input to full parallelism is the right plan: one small
    exchange buys a fully parallel expensive stage. Do NOT use ahead of
    plain filters/aggregations (Catalyst handles those; the exchange
    would be pure overhead).
    """
    n = parts or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
