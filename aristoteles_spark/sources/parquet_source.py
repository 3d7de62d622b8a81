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


# file identity -> (timestamp[ns] column names, schema Spark inferred)
_SCHEMAS: dict[tuple, tuple] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table; its rows come from the file on every call.

    Spark's parquet schema inference starts a one-task job that reads the
    footer, so each file's inferred schema and timestamp[ns] columns are
    remembered for the life of the process, keyed on the file's identity:
    absolute path, inode, mtime in ns and size. Later loads read with that
    schema and start no job; a rewritten file is inferred again."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    st = os.stat(path)
    key = (path, st.st_ino, st.st_mtime_ns, st.st_size)
    ns_cols, schema = _SCHEMAS.get(key, (None, None))
    if ns_cols is None:  # TIMESTAMP(NANOS): read as long, truncated to micros below
        try:
            ns_cols = [f.name for f in pq.read_schema(path) if str(f.type) == "timestamp[ns]"]
        except (OSError, ValueError):  # a dataset directory, or not parquet
            ns_cols = []
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = (ns_cols, df.schema)
    else:
        df = spark.read.schema(schema).parquet(path)
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

