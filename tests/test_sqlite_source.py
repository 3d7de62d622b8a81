"""SQLite source: scan, pushdown probes, BETWEEN inclusivity, all-station read."""

import datetime as dt

from aristoteles_spark.plans.days import day_bounds
from aristoteles_spark.sources.sqlite_source import (
    min_datetime,
    ranged_count,
    read_archive,
    read_stations,
)
from tests.conftest import day_rows

DAY = dt.date(2020, 6, 1)


def test_scan_roundtrip(spark, station_db):
    db = station_db("s1", day_rows(DAY, n=10))
    df = read_archive(spark, db)
    assert df.count() == 10
    assert df.columns[:2] == ["dateTime", "usUnits"]
    assert len(df.columns) == 18


def test_min_probe(station_db):
    rows = day_rows(DAY, n=5)
    db = station_db("s1", rows)
    assert min_datetime(db) == rows[0][0]


def test_ranged_count_between_inclusive(station_db):
    """Boundary samples: 00:00:00 and 23:59:59 in; next midnight out."""
    lo, hi = day_bounds(DAY)
    rows = [(lo, 1) + (None,) * 16, (hi, 1) + (None,) * 16, (hi + 1, 1) + (None,) * 16]
    db = station_db("s1", rows)
    assert ranged_count(db, lo, hi) == 2


def test_read_archive_range_pushdown(spark, station_db):
    day2 = DAY + dt.timedelta(days=1)
    db = station_db("s1", day_rows(DAY, n=288) + day_rows(day2, n=288))
    lo, hi = day_bounds(day2)
    df = read_archive(spark, db, lo, hi)
    assert df.count() == 288
    times = [r[0] for r in df.select("dateTime").collect()]
    assert min(times) >= lo and max(times) <= hi


def test_read_stations_union(spark, station_db):
    a = station_db("a", day_rows(DAY, n=3))
    b = station_db("b", day_rows(DAY, n=4))
    df = read_stations(spark, {"a": a, "b": b})
    assert df.count() == 7
    counts = {r["station"]: r["n"] for r in df.groupBy("station").count().withColumnRenamed("count", "n").collect()}
    assert counts == {"a": 3, "b": 4}


def test_read_stations_is_one_local_scan(spark, station_db):
    """Every station lands in one driver-side Arrow table: the executed
    plan is a single LocalTableScan, no per-station scans and no Union."""
    paths = {n: station_db(n, day_rows(DAY, n=5 + i, base=10.0 * i)) for i, n in enumerate("abc")}
    df = read_stations(spark, paths)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LocalTableScan") == 1 and "Union" not in plan, plan
    want = sorted(
        (n, *r) for n, p in paths.items() for r in read_archive(spark, p).collect()
    )
    assert sorted(tuple(r) for r in df.collect()) == want
    assert df.columns[0] == "station"


def test_empty_archive(spark, station_db):
    db = station_db("empty", [])
    assert read_archive(spark, db).count() == 0
    assert min_datetime(db) is None
