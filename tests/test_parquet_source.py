"""sources/parquet_source.load_table: a file's schema is inferred once per
process (inference starts a Spark job), rows are read on every call, and a
rewritten file is inferred again."""

from __future__ import annotations

import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from aristoteles_spark.sources.parquet_source import load_table
from tests.conftest import SF_SMOKE

_groups = itertools.count()


def _load_counting_jobs(spark, sf_dir, name):
    """load_table under a fresh job group; returns (frame, jobs started)."""
    sc = spark.sparkContext
    group = f"test_parquet_source#{next(_groups)}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_starts_no_job(spark, tmp_path):
    src = pq.read_table(os.path.join(SF_SMOKE, "nation.parquet"))
    pq.write_table(src, tmp_path / "nation.parquet")
    first, first_jobs = _load_counting_jobs(spark, str(tmp_path), "nation")
    second, second_jobs = _load_counting_jobs(spark, str(tmp_path), "nation")
    assert first_jobs > 0  # the miss infers the schema with a Spark job
    assert second_jobs == 0
    assert second.schema == spark.read.parquet(str(tmp_path / "nation.parquet")).schema
    rows = second.collect()  # rows are read from the file, not remembered
    assert len(rows) == src.num_rows and sorted(rows) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "v"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_two_loads_of_one_table_self_join(spark):
    load_table(spark, SF_SMOKE, "nation")  # the loads below are hits
    a = load_table(spark, SF_SMOKE, "nation")
    b = load_table(spark, SF_SMOKE, "nation")
    pairs = a.join(b, a["n_regionkey"] == b["n_nationkey"]).select(
        a["n_nationkey"], b["n_name"]
    )
    # every nation meets the nation whose key equals its region key
    rows = a.collect()
    names = {r.n_nationkey: r.n_name for r in rows}
    expected = {(r.n_nationkey, names[r.n_regionkey]) for r in rows}
    assert len(expected) == len(rows) > 0
    assert {tuple(r) for r in pairs.collect()} == expected


def test_timestamp_ns_column_truncated_on_miss_and_hit(spark, tmp_path):
    ns = [1_600_000_000_123_456_789, 1_700_000_000_000_000_999, 5_001]
    pq.write_table(pa.table({"ts": pa.array(ns, pa.timestamp("ns"))}), tmp_path / "ns.parquet")
    assert str(pq.read_schema(tmp_path / "ns.parquet").field("ts").type) == "timestamp[ns]"
    loads = [load_table(spark, str(tmp_path), "ns") for _ in range(2)]  # miss, then hit
    got = []
    for df in loads:
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        got.append(sorted(r[0] for r in df.select(F.unix_micros("ts")).collect()))
    assert got[0] == got[1] == sorted(n // 1000 for n in ns)
