"""Bucketed parquet sink — the co-located-join layout for repeated big joins.

At 100 TB a fact-fact join (lineitem ⋈ orders on the order key) shuffles
both sides every run. Writing both tables bucketed (and sorted) by the join
key moves that shuffle to write time, once: every later join on the key is
exchange-free — each task zips bucket i of both tables, which AQE/Catalyst
prove via the HashClusteredDistribution the bucketed scan reports.

Beyond the reference inventory (the reference's single SQLite source,
aristoteles/aristoteles.py:318-343, needs no joins); this is the §7.4
scale-path layout for the training-data tables. tests/test_bucketing.py and
tests/test_formats.py pin the exchange-free join plan.

Bucket count guidance at scale: total_size / bucket_count ≈ 128-512 MB per
bucket-file per partition; both sides MUST use the same count (Spark only
avoids the shuffle when bucket counts match or divide evenly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    num_buckets: int,
    path: str,
    sort: bool = True,
) -> None:
    """Write ``df`` as an external bucketed parquet table at ``path``.

    ``sortBy(key)`` makes each bucket file key-sorted, so a later
    sort-merge join needs no per-task Sort either.
    """
    w = (
        # cluster by the bucket key first: bucketBy writes one file per
        # (task, bucket) pair, so a T-task upstream lands T*num_buckets
        # files and every later bucketed scan opens them all; hash-
        # repartitioning to the bucket count gives exactly one file per
        # bucket (the layout a bucketed table is supposed to have)
        df.repartition(num_buckets, F.col(key))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, key)
    )
    if sort:
        w = w.sortBy(key)
    w.option("path", path).saveAsTable(table)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucket-count tables on their bucket key.

    With matching bucketing this plans as a shuffle-free sort-merge join
    (no Exchange on either side); callers should keep
    autoBroadcastJoinThreshold in mind when demonstrating the property on
    small test data (a broadcast join would hide it).
    """
    return spark.table(left_table).join(spark.table(right_table), key)
