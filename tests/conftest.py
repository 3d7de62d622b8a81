"""Shared fixtures: one SparkSession per test run, the test-data scales,
and synthetic wview archive fixtures per FIXTURES.md scenarios."""

from __future__ import annotations

import datetime as dt
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
