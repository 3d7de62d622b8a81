"""End-to-end incremental weather pipeline (the reference's entry()).

Orchestration mirrors reference aristoteles/aristoteles.py:148-485. A run
reads the watermark, gates on the target day's completeness, then:

    read_stations over the whole pending span (range pushed to SQLite;
    every station in one driver-side Arrow table, one LocalTableScan)
      -> convert_dataframe (Catalyst when/otherwise, codegen'd)
      -> one projection: NULL -> NaN and the UTC ``date`` column
      -> ONE write of every pending day into a hidden staging directory,
         partitioned by date (one file per day), in
         min(pending days, defaultParallelism) tasks: a one-day run is
         one task with no shuffle, a catch-up hashes days onto its tasks
      -> publish on the driver, day by day in order: count the day's rows
         from its parquet footers, lock, swap the staged partition in
         (sinks/compact.swap_partition), sidecar, unlock, advance the
         watermark

Each run exports its wall seconds per stage (``probe``: the min and gate
SQLite probes, ``read``, ``write``: convert plus the staging job,
``publish``) as ``aristoteles_stage_seconds`` in the Prometheus textfile,
on a crash too. The conversion expressions and the sink projection are
built once per process (they are unresolved Columns, bound to no
session), so a cron invocation's plan build is two selects over cached
tuples.

Deliberately batch-incremental, NOT Structured Streaming: emission is
completeness-*triggered* (hold a day until every station has 288 samples),
which event-time watermarks cannot express (SURVEY.md §2.9). The watermark
advances after each day's publish, as in the reference (aristoteles.py:476),
so a crash anywhere leaves it at a committed or skipped day; a re-run
repairs an interrupted swap (``recover_compaction``) and redoes the days
from the watermark on.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aristoteles_spark.functions.units import convert_dataframe
from aristoteles_spark.obs.prom import PromBuffer
from aristoteles_spark.plans import days as D
from aristoteles_spark.plans import state as S
from aristoteles_spark.schema import ARCHIVE_COLUMNS, MEASURE_TYPES
from aristoteles_spark.sinks.compact import recover_compaction, staging_dir, swap_partition
from aristoteles_spark.sinks.daily_parquet import lock_path, write_sidecar
from aristoteles_spark.sources.sqlite_source import (
    min_datetime,
    ranged_count,
    read_stations,
)


@dataclass
class PipelineConfig:
    """Engine config (the reference's INI, aristoteles.py:191-227)."""

    state_path: str
    instrument: str
    archive: str
    stations: dict[str, dict]  # name -> {db_path, longitude?, latitude?, description?}
    netfc_path: str | None = None


@dataclass
class RunResult:
    status: int
    days_written: int = 0
    rows_written: int = 0
    skipped_days: list[dt.date] = field(default_factory=list)
    incomplete_stations: list[str] = field(default_factory=list)


@contextmanager
def _timed(stages: dict[str, float], stage: str):
    """Add the block's wall seconds to ``stages[stage]``, also when it raises."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        stages[stage] += time.perf_counter() - t0


def run(
    spark: SparkSession,
    conf: PipelineConfig,
    stop: dt.date | None = None,
    force: bool = False,
    today: dt.date | None = None,
) -> RunResult:
    """One incremental run: catch up every unwritten complete day."""
    prom = PromBuffer()
    result = RunResult(status=0)
    stages = dict.fromkeys(("probe", "read", "write", "publish"), 0.0)
    try:
        recover_compaction(conf.archive)  # leftovers of an interrupted run
        db_paths = {n: sc["db_path"] for n, sc in conf.stations.items()}

        with _timed(stages, "probe"):
            start_day = earliest_day(conf)
        if start_day is None:
            result.status = 1
            return result

        first_day = S.read_state(conf.state_path) or start_day
        today = today or dt.datetime.now(dt.timezone.utc).date()
        target = stop or (today - dt.timedelta(days=1))  # "yesterday"
        prom.add("first_day", int(S.format_day(first_day)))
        prom.add("yesterday", int(S.format_day(target)))

        if target < first_day:  # nothing to do (reference aristoteles.py:287-289)
            return result

        # completeness gate on the TARGET day across all stations
        # (reference aristoteles.py:296-327)
        lo, hi = D.day_bounds(target)
        with _timed(stages, "probe"):
            counts = {n: ranged_count(p, lo, hi) for n, p in db_paths.items()}
        for n, c in counts.items():
            prom.add("samples_yesterday", c, {"station": n})
        incomplete = D.gate_complete(counts)
        if incomplete and not force:
            result.incomplete_stations = incomplete
            return result  # status 0: defer the whole backlog

        staging = staging_dir(conf.archive)
        try:
            with _timed(stages, "read"):  # the pending span: first_day through target
                raw = read_stations(spark, db_paths, D.day_bounds(first_day)[0], hi)
            with _timed(stages, "write"):
                _stage_days(spark, raw, first_day, target, staging)
            with _timed(stages, "publish"):
                for day in D.span_range(first_day, target):
                    rows = _publish_day(conf, staging, day)
                    # crash-safe: advance the watermark only after the day's commit
                    S.write_state(conf.state_path, day)
                    # a day counts for the run that advanced the watermark past it
                    if rows is None:  # skip-day path (reference aristoteles.py:348-370)
                        result.skipped_days.append(day)
                    else:
                        result.days_written += 1
                        result.rows_written += rows
        finally:
            shutil.rmtree(staging, ignore_errors=True)
            prom.add("days_written", result.days_written)
            prom.add("rows_written", result.rows_written)
        return result
    except Exception:
        result.status = 1
        raise
    finally:
        for stage, seconds in stages.items():
            prom.add("stage_seconds", seconds, {"stage": stage})
        prom.flush(conf.netfc_path, result.status)


def earliest_day(conf: PipelineConfig) -> dt.date | None:
    """UTC day of the earliest sample across stations (reference SQL #1
    and its driver fold, aristoteles.py:240-254); None when no station
    has a sample."""
    mins = [min_datetime(sc["db_path"]) for sc in conf.stations.values()]
    mins = [m for m in mins if m is not None]
    return D.epoch_to_day(min(mins)) if mins else None


@functools.lru_cache(maxsize=None)
def _sink_columns() -> tuple[Column, ...]:
    """The staged frame's projection over the converted columns: the
    reference's NULL -> NaN on every measure (np.asarray(...,
    dtype=float), aristoteles.py:346) and the UTC day by integer
    arithmetic, independent of the session time zone. Built on first use,
    once per process: a Column needs a running JVM, so it cannot be a
    module constant."""
    nan = F.lit(float("nan"))
    return (
        F.col("station"),
        *[
            F.coalesce(F.col(c), nan).alias(c) if c in MEASURE_TYPES else F.col(c)
            for c in ARCHIVE_COLUMNS
        ],
        F.date_from_unix_date(F.floor(F.col("dateTime") / 86400).cast("int")).alias("date"),
    )


def _stage_days(
    spark: SparkSession, raw: DataFrame, first: dt.date, last: dt.date, staging: str
) -> None:
    """Convert ``raw`` (every station over ``[first, last]``) and write it
    in ONE job to ``staging``, partitioned by ``date`` with one file per
    day; a day without rows gets no partition. The write counts nothing:
    ``_publish_day`` reads each day's row count from its parquet footers.

    The write runs ``min(days in the span, defaultParallelism)`` tasks.
    Each day is written as one file, so one task always writes a whole
    day: one pending day never needs more than one task, and N days never
    need more than N. One task is a ``coalesce(1)``: no shuffle, a single
    job with a single task. More are an explicit ``repartition(n,
    "date")``, which AQE does not coalesce, so a long catch-up keeps
    every core."""
    tasks = min((last - first).days + 1, spark.sparkContext.defaultParallelism)
    out = convert_dataframe(raw).select(*_sink_columns())
    out = out.coalesce(1) if tasks == 1 else out.repartition(tasks, "date")
    out = out.sortWithinPartitions("date", "station", "dateTime")
    out.write.partitionBy("date").parquet(staging)


def _publish_day(conf: PipelineConfig, staging: str, day: dt.date) -> int | None:
    """Swap one staged day into the archive under the reference's lock
    protocol, then refresh its acquisition's sidecar. Returns the day's
    row count, summed from the footers of the parquet files it publishes
    (no Spark job); None when the day has no staged partition (no rows:
    a skip day)."""
    staged = os.path.join(staging, f"date={day.isoformat()}")
    if not os.path.isdir(staged):
        return None
    files = [f for f in os.listdir(staged) if not f.startswith((".", "_"))]  # hidden: .crc
    rows = sum(pq.read_metadata(os.path.join(staged, f)).num_rows for f in files)
    acq = D.acq_name(day, conf.instrument)
    acq_dir = os.path.join(conf.archive, f"acq={acq}")
    os.makedirs(acq_dir, exist_ok=True)
    lock = lock_path(conf.archive, acq, day)
    open(lock, "w").close()
    swap_partition(staged, os.path.join(acq_dir, f"date={day.isoformat()}"))
    write_sidecar(conf.archive, acq, conf.instrument, conf.stations)
    os.unlink(lock)
    return rows
