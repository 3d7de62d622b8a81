"""Format round-trips: file sources, the SQL surface, the HDF5 export,
compaction and the IO-format queries."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from aristoteles_spark.sources.files import load_csv, load_jsonl

SF_DIR = "/root/testdata/sf0.001"
NATION_DDL = "n_nationkey long, n_name string, n_regionkey long"


class TestFileSources:
    def _nation(self, spark):
        return spark.read.parquet(f"{SF_DIR}/nation.parquet").select(
            "n_nationkey", "n_name", "n_regionkey"
        )

    def test_csv_roundtrip(self, spark):
        n = self._nation(spark)
        tmp = tempfile.mkdtemp(prefix="csv_")
        n.write.mode("overwrite").option("header", True).csv(tmp)
        back = load_csv(spark, tmp, NATION_DDL)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, n.collect()))

    def test_jsonl_roundtrip(self, spark):
        n = self._nation(spark)
        tmp = tempfile.mkdtemp(prefix="jsonl_")
        n.write.mode("overwrite").json(tmp)
        back = load_jsonl(spark, tmp, NATION_DDL)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, n.collect()))

    def test_csv_malformed_rows_do_not_fail_job(self, spark):
        tmp = tempfile.mkdtemp(prefix="csvbad_")
        with open(os.path.join(tmp, "part.csv"), "w") as f:
            f.write("n_nationkey,n_name,n_regionkey\n1,ok,2\nnot_a_number,bad,x\n")
        back = load_csv(spark, tmp, NATION_DDL)
        rows = back.collect()
        assert len(rows) == 2  # PERMISSIVE: malformed row nulled, not fatal
        assert {r.n_nationkey for r in rows} == {1, None}


class TestSqlSurface:
    def test_run_sql_matches_dataframe_api(self, spark):
        from pyspark.sql import functions as F

        from aristoteles_spark.plans.sql import register_views, run_sql
        from aristoteles_spark.sources.parquet_source import load_table

        sf = "/root/testdata/sf0.001"
        got = run_sql(
            spark,
            sf,
            "SELECT r_name, count(*) AS n FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY r_name ORDER BY r_name",
        ).collect()
        want = (
            load_table(spark, sf, "customer")
            .join(load_table(spark, sf, "nation"),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .join(load_table(spark, sf, "region"),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("r_name")
            .collect()
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        assert set(register_views(spark, sf)) >= {"lineitem", "orders"}


class TestHdf5Export:
    def _day_df(self, spark):
        from pyspark.sql import functions as F

        from aristoteles_spark.schema import MEASURES

        rows = [
            ("stA", 1000, *[float(i) for i in range(len(MEASURES))]),
            ("stA", 700, *[None] * len(MEASURES)),
            ("stB", 800, *[2.5] * len(MEASURES)),
        ]
        return spark.createDataFrame(
            rows, ["station", "dateTime", *MEASURES]
        ).select("station", F.col("dateTime").cast("long").alias("dateTime"), *MEASURES)

    def test_layout_matches_reference_structure(self, spark):
        import math

        from aristoteles_spark.schema import MEASURE_TYPES, MEASURES, UNITS
        from aristoteles_spark.sinks.hdf5_export import build_layout

        lay = build_layout(self._day_df(spark), "wx", "20200601T000000Z_wx_weather")
        assert lay["attrs"]["acquisition_type"] == "weather"
        assert lay["attrs"]["instrument_name"] == "wx"
        # time axis per station, time-ordered
        assert lay["index_map"]["stA"] == [700.0, 1000.0]
        assert lay["index_map"]["stB"] == [800.0]
        g = lay["groups"]["stA"]
        # one dataset per measure, NULL -> NaN, axis + units attrs
        assert set(g["datasets"]) == set(MEASURES)
        m0 = MEASURES[0]
        assert math.isnan(g["datasets"][m0]["values"][0])  # the 700-ts NULL row
        assert g["datasets"][m0]["values"][1] == 0.0
        assert g["datasets"][m0]["axis"] == ["station_time_stA"]
        assert g["datasets"][m0]["units"] == UNITS[MEASURE_TYPES[m0]]
        # absent station conf -> NaN lon/lat, "" description (aristoteles.py:443-458)
        assert math.isnan(g["attrs"]["longitude"])
        assert g["attrs"]["description"] == ""

    def test_export_writes_real_h5_without_h5py(self, spark, tmp_path):
        """The pure-Python minihdf5 path writes an actual .h5 file in the
        reference's layout (aristoteles/aristoteles.py:392-468) and it
        reads back structurally identical (checksums verified)."""
        import math

        from aristoteles_spark.formats.minihdf5 import read_hdf5
        from aristoteles_spark.schema import MEASURES
        from aristoteles_spark.sinks import hdf5_export

        path = str(tmp_path / "20200601.h5")
        lay = hdf5_export.export_day_h5(
            self._day_df(spark), path, "wx", "20200601T000000Z_wx_weather"
        )
        back = read_hdf5(path)
        assert back["attrs"]["acquisition_name"] == "20200601T000000Z_wx_weather"
        assert back["attrs"]["acquisition_type"] == "weather"
        im = back["groups"]["index_map"]["datasets"]
        assert im["station_time_stA"]["values"] == [700.0, 1000.0]
        assert im["station_time_stB"]["values"] == [800.0]
        ga = back["groups"]["stA"]
        assert set(ga["datasets"]) == set(MEASURES)
        m0 = MEASURES[0]
        vals = ga["datasets"][m0]["values"]
        assert math.isnan(vals[0]) and vals[1] == 0.0
        assert ga["datasets"][m0]["attrs"]["axis"] == ["station_time_stA"]
        assert ga["datasets"][m0]["attrs"]["units"] == lay["groups"]["stA"][
            "datasets"][m0]["units"]
        assert math.isnan(ga["attrs"]["longitude"])
        assert ga["attrs"]["description"] == ""


class TestCompaction:
    def test_compacts_fragments_and_preserves_data(self, spark, tmp_path):
        import glob

        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from aristoteles_spark.sinks.compact import compact_partitions

        e = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
            "event_id", "ts", "event_type", "value"
        )
        path = str(tmp_path / "frag")
        # fragment: many tiny files per partition
        e.repartition(16).write.partitionBy("event_type").parquet(path)
        before_files = glob.glob(f"{path}/event_type=*/*.parquet")
        before = spark.read.parquet(path).orderBy("event_id").collect()

        n = compact_partitions(
            spark, path, ["event_type"], cluster_cols=["ts"]
        )
        after_files = glob.glob(f"{path}/event_type=*/*.parquet")
        after = spark.read.parquet(path).orderBy("event_id").collect()

        assert n == len(before)
        assert len(after_files) < len(before_files)
        # one file per partition at this scale
        assert len(after_files) == spark.read.parquet(path).select(
            "event_type"
        ).distinct().count()
        assert after == before
        # clustered on ts: each file's row groups carry tight min/max
        # stats for a ts range predicate to skip on
        for f in after_files:
            ts = pq.read_table(f, columns=["ts"]).column("ts").to_pylist()
            assert ts == sorted(ts), f

    def test_where_limits_rewrite_scope(self, spark, tmp_path):
        import glob

        from aristoteles_spark.sinks.compact import compact_partitions

        e = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
            "event_id", "event_type", "value"
        )
        path = str(tmp_path / "scoped")
        e.repartition(8).write.partitionBy("event_type").parquet(path)
        target = "event_type = 'click'"
        others_before = sorted(
            f for f in glob.glob(f"{path}/event_type=*/*.parquet")
            if "event_type=click" not in f
        )
        compact_partitions(spark, path, ["event_type"], where=target)
        others_after = sorted(
            f for f in glob.glob(f"{path}/event_type=*/*.parquet")
            if "event_type=click" not in f
        )
        # untouched partitions keep their exact files
        assert others_after == others_before
        assert len(glob.glob(f"{path}/event_type=click/*.parquet")) == 1

    def test_rejects_data_column_predicate(self, spark, tmp_path):
        import pytest as _pytest

        from aristoteles_spark.sinks.compact import compact_partitions

        e = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
            "event_id", "event_type", "value"
        )
        path = str(tmp_path / "guard")
        e.write.partitionBy("event_type").parquet(path)
        with _pytest.raises(ValueError, match="partition columns"):
            compact_partitions(spark, path, ["event_type"], where="value > 0")


class TestIOFormatQueries:
    """The io* driver queries: format roundtrips + bucketed layout
    (queries/io_formats.py); value-level parity is covered by
    tests/test_oracle.py — these assert the physical properties."""

    def test_bucketed_join_has_no_exchange_before_join(self, spark):
        from aristoteles_spark.queries.io_formats import q_bucketed_join

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = q_bucketed_join(spark, "/root/testdata/sf0.001")
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        join_pos = plan.find("SortMergeJoin")
        assert join_pos != -1, plan
        # the bucketed scans feed the join directly: every Exchange in the
        # plan (groupBy / final sort) sits ABOVE the join, none below it
        assert "Exchange" not in plan[join_pos:], plan[join_pos:]

    def test_csv_jsonl_roundtrip_preserve_microseconds(self, spark):
        from pyspark.sql import functions as F

        from aristoteles_spark.queries.io_formats import (
            q_csv_roundtrip,
            q_jsonl_roundtrip,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        want = ev.agg(F.max("ts")).first()[0]
        for fn in (q_csv_roundtrip, q_jsonl_roundtrip):
            got = (
                fn(spark, "/root/testdata/sf0.001")
                .agg(F.max("max_ts"))
                .first()[0]
            )
            assert got == want, (fn.__name__, got, want)
            assert got.microsecond != 0  # fixture really has sub-ms data


class TestHdf5RoundTrip:
    def test_export_then_read_back(self, spark, tmp_path):
        """Full parity loop: Spark day -> reference-layout .h5 (pure
        writer) -> read_day_h5 -> identical values, NaN-for-NULL."""
        import math

        from pyspark.sql import functions as F

        from aristoteles_spark.schema import MEASURES
        from aristoteles_spark.sinks.hdf5_export import export_day_h5
        from aristoteles_spark.sources.hdf5_source import read_day_h5

        rows = [
            ("stA", 1000, *[float(i) for i in range(len(MEASURES))]),
            ("stA", 700, *[None] * len(MEASURES)),
            ("stB", 800, *[2.5] * len(MEASURES)),
        ]
        df = spark.createDataFrame(
            rows, ["station", "dateTime", *MEASURES]
        ).select(
            "station", F.col("dateTime").cast("long").alias("dateTime"), *MEASURES
        )
        path = str(tmp_path / "20200601.h5")
        export_day_h5(df, path, "wx", "20200601T000000Z_wx_weather")
        back, attrs = read_day_h5(spark, path)
        assert attrs["instrument_name"] == "wx"
        got = {(r["station"], r["dateTime"]): r for r in back.collect()}
        assert set(got) == {("stA", 700), ("stA", 1000), ("stB", 800)}
        m0 = MEASURES[0]
        assert math.isnan(got[("stA", 700)][m0])  # NULL -> NaN policy
        assert got[("stA", 1000)][m0] == 0.0
        assert got[("stB", 800)][m0] == 2.5


class TestCompactionRecovery:
    def _table(self, spark, tmp_path):
        e = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
            "event_id", "event_type", "value"
        )
        path = str(tmp_path / "tbl")
        e.write.partitionBy("event_type").parquet(path)
        return path, spark.read.parquet(path).count()

    def test_orphaned_backup_is_restored(self, spark, tmp_path):
        """Crash window 1: partition renamed to its hidden backup, new
        copy never arrived. The backup is invisible to reads (hidden),
        and recovery restores it."""
        import os

        from aristoteles_spark.sinks.compact import recover_compaction

        path, total = self._table(spark, tmp_path)
        part = os.path.join(path, "event_type=click")
        bak = os.path.join(path, ".event_type=click.compact-bak")
        os.rename(part, bak)
        # hidden backup must NOT surface in reads (no bogus partitions)
        visible = spark.read.parquet(path)
        assert visible.filter("event_type = 'click'").count() == 0
        assert "compact-bak" not in str(
            visible.select("event_type").distinct().collect()
        )
        out = recover_compaction(path)
        assert out["restored"] == ["event_type=click"]
        assert spark.read.parquet(path).count() == total

    def test_stale_backup_is_cleaned(self, spark, tmp_path):
        """Crash window 2: swap completed, backup cleanup didn't."""
        import os
        import shutil

        from aristoteles_spark.sinks.compact import recover_compaction

        path, total = self._table(spark, tmp_path)
        part = os.path.join(path, "event_type=click")
        bak = os.path.join(path, ".event_type=click.compact-bak")
        shutil.copytree(part, bak)
        out = recover_compaction(path)
        assert out["restored"] == []
        assert [c for c in out["cleaned"] if "compact-bak" in c]
        assert not os.path.exists(bak)
        assert spark.read.parquet(path).count() == total

    def test_recovery_noop_on_clean_table(self, spark, tmp_path):
        from aristoteles_spark.sinks.compact import recover_compaction

        path, total = self._table(spark, tmp_path)
        assert recover_compaction(path) == {"restored": [], "cleaned": []}
        assert spark.read.parquet(path).count() == total
