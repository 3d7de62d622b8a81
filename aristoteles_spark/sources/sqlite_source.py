"""SQLite ``archive`` tables -> one Spark DataFrame, with pushdown probes.

The reference opens one SQLite DB per weather station and issues three SQL
statements (reference: aristoteles/aristoteles.py:229-241,303-306,339-346):

  #1  SELECT dateTime FROM archive ORDER BY dateTime LIMIT 1   (min probe)
  #2  SELECT COUNT() FROM archive WHERE dateTime BETWEEN ? AND ?  (gate)
  #3  SELECT <18 cols> FROM archive WHERE dateTime BETWEEN ? AND ?
      ORDER BY dateTime                                         (extract)

Design decision (SURVEY.md §4): the pipeline (plans/pipeline.py) ingests
through this module's driver-side reader: ``sqlite3`` rows -> one Arrow
table per station, ``station`` column added in Arrow, all stations
concatenated into ONE ``pa.Table`` handed straight to
``createDataFrame(pa.Table, schema=...)`` — one ``LocalTableScan``, no
pandas, no per-station scans or unions. One ranged read per station
covers the whole pending span. A station produces 288 rows a day, so a
180-day backfill of three stations is 155,520 rows, well within one
driver read; SQLite's own index on ``dateTime`` gives pushdown for the
scalar probes and the range.

Pushdown policy: the scalar probes (#1, #2) are answered by SQLite directly
— shipping whole tables to Spark to compute a MIN or COUNT would invert the
reference's own pushdown. The bulk extract (#3) pushes the BETWEEN range
into the SQLite query so only the needed days cross the boundary.
"""

from __future__ import annotations

import sqlite3
from typing import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from aristoteles_spark.schema import ARCHIVE_COLUMNS, ARCHIVE_SCHEMA, MEASURES

_SELECT_LIST = ", ".join(ARCHIVE_COLUMNS)

_STATIONS_SCHEMA = T.StructType(
    [T.StructField("station", T.StringType(), False), *ARCHIVE_SCHEMA.fields]
)


def _arrow_from_rows(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in ARCHIVE_COLUMNS]
    arrays = [
        pa.array(cols[0], type=pa.int64()),
        pa.array(cols[1], type=pa.int32()),
    ] + [pa.array(cols[i + 2], type=pa.float64()) for i in range(len(MEASURES))]
    return pa.table(dict(zip(ARCHIVE_COLUMNS, arrays)))


def _fetch(db_path: str, lo: int, hi: int) -> pa.Table:
    """Reference SQL #3 (aristoteles.py:340-345) as an Arrow table, with
    the inclusive BETWEEN range pushed into SQLite."""
    with sqlite3.connect(db_path) as conn:
        rows = conn.execute(
            f"SELECT {_SELECT_LIST} FROM archive WHERE dateTime BETWEEN ? AND ? "
            "ORDER BY dateTime",
            (lo, hi),
        ).fetchall()
    return _arrow_from_rows(rows)


def min_datetime(db_path: str) -> int | None:
    """Earliest record time (reference SQL #1, aristoteles.py:240-241).

    Expressed as MIN — SQLite answers from the dateTime index either way;
    semantically identical to the reference's ORDER BY ... LIMIT 1.
    """
    with sqlite3.connect(db_path) as conn:
        row = conn.execute("SELECT MIN(dateTime) FROM archive").fetchone()
    return row[0] if row and row[0] is not None else None


def ranged_count(db_path: str, lo: int, hi: int) -> int:
    """Completeness-gate count (reference SQL #2, aristoteles.py:303-306)."""
    with sqlite3.connect(db_path) as conn:
        row = conn.execute(
            "SELECT COUNT(*) FROM archive WHERE dateTime BETWEEN ? AND ?", (lo, hi)
        ).fetchone()
    return int(row[0])


def read_stations(
    spark: SparkSession, stations: dict[str, str], lo: int, hi: int
) -> DataFrame:
    """All stations' rows with ``lo <= dateTime <= hi`` (epoch seconds,
    pushed down into SQLite) in the engine's canonical long form, one scan.

    Adds a ``station`` column (the reference's per-station HDF5 group name,
    aristoteles.py:408-440) in Arrow, then concatenates the stations into
    one table: a single ``LocalTableScan``, no union; downstream
    partitioning is by (day) at the sink.
    """
    tables = []
    for name, path in stations.items():
        t = _fetch(path, lo, hi)
        tables.append(t.add_column(0, "station", pa.array([name] * t.num_rows, pa.string())))
    table = pa.concat_tables(tables).combine_chunks()
    return spark.createDataFrame(table, schema=_STATIONS_SCHEMA)


def write_archive_sqlite(db_path: str, rows: Iterable[tuple]) -> None:
    """Test helper: materialize a wview-shaped archive SQLite DB."""
    with sqlite3.connect(db_path) as conn:
        conn.execute(
            "CREATE TABLE IF NOT EXISTS archive ("
            "dateTime INTEGER NOT NULL PRIMARY KEY, usUnits INTEGER NOT NULL, "
            + ", ".join(f"{m} REAL" for m in MEASURES)
            + ")"
        )
        conn.executemany(
            f"INSERT OR REPLACE INTO archive ({_SELECT_LIST}) VALUES "
            f"({', '.join('?' * len(ARCHIVE_COLUMNS))})",
            rows,
        )
        conn.commit()
