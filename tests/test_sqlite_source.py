"""SQLite source: scan, pushdown probes, BETWEEN inclusivity, all-station read."""

import datetime as dt
import sqlite3

from aristoteles_spark.plans.days import day_bounds
from aristoteles_spark.schema import ARCHIVE_COLUMNS
from aristoteles_spark.sources.sqlite_source import (
    min_datetime,
    ranged_count,
    read_stations,
)
from tests.conftest import day_rows

DAY = dt.date(2020, 6, 1)
LO, HI = day_bounds(DAY)


def test_scan_roundtrip(spark, station_db):
    db = station_db("s1", day_rows(DAY, n=10))
    df = read_stations(spark, {"s1": db}, LO, HI)
    assert df.count() == 10
    assert df.columns == ["station", *ARCHIVE_COLUMNS]
    assert len(ARCHIVE_COLUMNS) == 18


def test_min_probe(station_db):
    rows = day_rows(DAY, n=5)
    db = station_db("s1", rows)
    assert min_datetime(db) == rows[0][0]


def test_ranged_count_between_inclusive(station_db):
    """Boundary samples: 00:00:00 and 23:59:59 in; next midnight out."""
    rows = [(LO, 1) + (None,) * 16, (HI, 1) + (None,) * 16, (HI + 1, 1) + (None,) * 16]
    db = station_db("s1", rows)
    assert ranged_count(db, LO, HI) == 2


def test_read_stations_range_pushdown(spark, station_db):
    """Only the requested day leaves SQLite: the bounds go into its query,
    so the plan carries no Spark-side Filter."""
    day2 = DAY + dt.timedelta(days=1)
    db = station_db("s1", day_rows(DAY, n=288) + day_rows(day2, n=288))
    lo, hi = day_bounds(day2)
    df = read_stations(spark, {"s1": db}, lo, hi)
    assert df.count() == 288
    times = [r[0] for r in df.select("dateTime").collect()]
    assert min(times) >= lo and max(times) <= hi
    assert "Filter" not in df._jdf.queryExecution().executedPlan().toString()


def test_read_stations_union(spark, station_db):
    a = station_db("a", day_rows(DAY, n=3))
    b = station_db("b", day_rows(DAY, n=4))
    df = read_stations(spark, {"a": a, "b": b}, LO, HI)
    assert df.count() == 7
    counts = {r["station"]: r["n"] for r in df.groupBy("station").count().withColumnRenamed("count", "n").collect()}
    assert counts == {"a": 3, "b": 4}


def test_read_stations_is_one_local_scan(spark, station_db):
    """Every station lands in one driver-side Arrow table: the executed
    plan is a single LocalTableScan, no per-station scans and no Union.
    The expected rows come straight from sqlite3."""
    paths = {n: station_db(n, day_rows(DAY, n=5 + i, base=10.0 * i)) for i, n in enumerate("abc")}
    df = read_stations(spark, paths, LO, HI)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LocalTableScan") == 1 and "Union" not in plan, plan
    want = []
    for n, p in paths.items():
        with sqlite3.connect(p) as conn:
            rows = conn.execute(f"SELECT {', '.join(ARCHIVE_COLUMNS)} FROM archive").fetchall()
        want += [(n, *r) for r in rows]
    assert sorted(tuple(r) for r in df.collect()) == sorted(want)
    assert df.columns[0] == "station"


def test_empty_archive(spark, station_db):
    db = station_db("empty", [])
    assert read_stations(spark, {"empty": db}, LO, HI).count() == 0
    assert min_datetime(db) is None
