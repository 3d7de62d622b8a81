"""Shared fixtures: one SparkSession per test run, duckdb oracle helpers,
and synthetic wview archive fixtures per FIXTURES.md scenarios."""

from __future__ import annotations

import datetime as dt
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aristoteles_spark.schema import MEASURES  # noqa: E402
from aristoteles_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("aristoteles_spark_tests")
    yield s


# ---------------------------------------------------------------- oracle


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if v is None:
        return "NULL"
    return str(v)


def rows_canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Order-insensitive, column-name-sorted canonical form (mirrors the
    driver's compare: sort columns by name, hash values)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = [tuple(_canon(r[i]) for i in order) for r in rows]
    return sorted(canon)


def oracle_con(sf_dir: str):
    """A duckdb connection with one view per test table in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare_spark_duckdb(spark, sf_dir: str, spark_df, sql: str) -> None:
    """Assert a Spark result matches the duckdb oracle exactly (canonical)."""
    oracle = oracle_con(sf_dir).execute(sql)
    o_cols = [d[0] for d in oracle.description]
    o_rows = oracle.fetchall()
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = spark_df.columns
    assert sorted(s_cols) == sorted(o_cols), f"schema mismatch: {s_cols} vs {o_cols}"
    sc = rows_canonical(s_cols, s_rows)
    oc = rows_canonical(o_cols, o_rows)
    assert len(sc) == len(oc), f"row count {len(sc)} vs oracle {len(oc)}"
    mismatches = [(a, b) for a, b in zip(sc, oc) if a != b]
    assert not mismatches, f"value mismatch (first 3): {mismatches[:3]}"


# ------------------------------------------------------- weather fixture


def day_rows(
    day: dt.date,
    us_units: int = 1,
    n: int = 288,
    base: float = 50.0,
    nulls_at: dict[str, list[int]] | None = None,
    zeros_at: dict[str, list[int]] | None = None,
    alternate_units: bool = False,
):
    """Deterministic 5-minute samples for one UTC day."""
    t0 = int(dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc).timestamp())
    rows = []
    for i in range(n):
        uu = (i % 2) if alternate_units else us_units
        vals = {}
        for j, m in enumerate(MEASURES):
            v: float | None = base + i * 0.01 + j
            if nulls_at and i in nulls_at.get(m, []):
                v = None
            elif zeros_at and i in zeros_at.get(m, []):
                v = 0.0
            vals[m] = v
        rows.append((t0 + i * 300, uu, *[vals[m] for m in MEASURES]))
    return rows


@pytest.fixture()
def station_db(tmp_path):
    """Factory: build a station SQLite archive from row lists."""
    from aristoteles_spark.sources.sqlite_source import write_archive_sqlite

    def make(name: str, rows):
        path = str(tmp_path / f"{name}.sqlite")
        write_archive_sqlite(path, rows)
        return path

    return make
