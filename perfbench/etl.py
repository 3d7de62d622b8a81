"""ETL workloads: a seeded wview station generator, an independent numpy
version of the reference conversion, archive checks, and the closed-loop
workload ``etl_daily``.

Everything the checks know about the expected output is written down here
from the reference's behaviour (aristoteles/aristoteles.py:332-476), not
imported from the program, so a change to the program cannot also change
what counts as correct.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import io
import os
import sqlite3
import time

import numpy as np

INSTRUMENT = "wx"
STATIONS = ("st0", "st1", "st2")
SAMPLES_PER_DAY = 288
PERIOD_S = 300

# wview ``archive`` measures and their physical kind, in column order
MEASURE_KINDS = {
    "barometer": "pressure", "pressure": "pressure", "altimeter": "pressure",
    "inTemp": "temperature", "outTemp": "temperature",
    "inHumidity": "percent", "outHumidity": "percent",
    "windSpeed": "speed", "windDir": "direction",
    "windGust": "speed", "windGustDir": "direction",
    "rainRate": "rate", "rain": "amount",
    "dewpoint": "temperature", "windchill": "temperature", "heatindex": "temperature",
}
MEASURES = list(MEASURE_KINDS)
COLUMNS = ["dateTime", "usUnits", *MEASURES]

# typical US-unit magnitude and spread per kind, for the generator
_SCALE = {
    "pressure": (30.0, 0.3), "temperature": (55.0, 15.0), "percent": (60.0, 20.0),
    "speed": (8.0, 5.0), "direction": (180.0, 90.0), "rate": (0.05, 0.1),
    "amount": (0.02, 0.05),
}

BACKLOG_DAYS = 3  # days the cold invocation catches up: partial, gap, complete
PARTIAL_DROP = 48  # samples missing from the one partial station-day
DAILY_PASS = 5  # cron invocations per etl_daily pass, one of them deferred
DAILY_MIN_WARM = 2  # timed warm passes, at least
DAILY_PASS_S = 3.6  # nominal warm pass on a quiet 4-core host
HISTORY_DAYS = 2  # days already in the station DBs before --reset-state


# ---------------------------------------------------------------- generator

def day_epoch(day: dt.date) -> int:
    return int(dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc).timestamp())


def station_day(seed: int, day: dt.date, station: int, drop: int = 0) -> np.ndarray:
    """One station's samples for one UTC day: ``(n, 18)`` float64 in
    ``COLUMNS`` order, NaN standing for NULL. Deterministic in
    ``(seed, day, station)``. Station 0 reports US units, station 1 metric,
    station 2 a per-row mix; NULLs and exact 0.0 cells are sprinkled in."""
    rng = np.random.default_rng([seed, day.toordinal(), station])
    t = day_epoch(day) + PERIOD_S * np.arange(SAMPLES_PER_DAY)
    if drop:
        keep = np.sort(rng.choice(SAMPLES_PER_DAY, SAMPLES_PER_DAY - drop, replace=False))
        t = t[keep]
    n = len(t)
    us = {0: np.ones(n), 1: np.zeros(n)}.get(station)
    if us is None:
        us = rng.integers(0, 2, n).astype(float)
    cols = [t.astype(float), us]
    for m in MEASURES:
        mu, sd = _SCALE[MEASURE_KINDS[m]]
        x = np.round(rng.normal(mu, sd, n), 3)
        x[rng.random(n) < 0.03] = 0.0  # the reference leaves exact zeros unconverted
        x[rng.random(n) < 0.03] = np.nan  # NULL
        cols.append(x)
    return np.column_stack(cols)


def write_rows(db_path: str, rows: np.ndarray) -> None:
    """Insert samples into a wview-shaped ``archive`` table (created on first use)."""
    with contextlib.closing(sqlite3.connect(db_path)) as conn:
        conn.execute(
            "CREATE TABLE IF NOT EXISTS archive (dateTime INTEGER NOT NULL PRIMARY KEY, "
            "usUnits INTEGER NOT NULL, " + ", ".join(f"{m} REAL" for m in MEASURES) + ")"
        )
        conn.executemany(
            f"INSERT INTO archive ({', '.join(COLUMNS)}) VALUES ({', '.join('?' * len(COLUMNS))})",
            [
                (int(r[0]), int(r[1]), *[None if np.isnan(v) else float(v) for v in r[2:]])
                for r in rows
            ],
        )
        conn.commit()


def write_conf(path: str, out_dir: str, db_paths: dict[str, str]) -> None:
    """INI config in the reference's layout; st0 has coordinates, st1 a description."""
    extra = {"st0": "longitude = -119.62\nlatitude = 49.32\n", "st1": "description = roof mast\n"}
    with open(path, "w") as f:
        f.write(
            f"[DEFAULT]\nstate_path = {out_dir}/state\ninstrument = {INSTRUMENT}\n"
            f"archive = {out_dir}/archive\nnetfc_path = {out_dir}\n\n"
        )
        for name, db in db_paths.items():
            f.write(f"[{name}]\ndb_path = {db}\n{extra.get(name, '')}\n")


def start_day(seed: int) -> dt.date:
    rng = np.random.default_rng([seed, 0])
    return dt.date(2021, 1, 1) + dt.timedelta(days=int(rng.integers(0, 700)))


# -------------------------------------------------------- reference + checks

def reference_convert(rows: np.ndarray) -> np.ndarray:
    """The reference's strict conversion (aristoteles.py:414-436): a row
    converts only when usUnits is nonzero, a cell equal to 0.0 is skipped,
    NaN stays NaN; NULL is NaN at the sink."""
    out = rows.copy()
    us = rows[:, 1] != 0
    for j, m in enumerate(MEASURES, start=2):
        kind = MEASURE_KINDS[m]
        x = rows[:, j]
        mask = us & ~np.isnan(x) & (x != 0.0)
        if kind == "pressure":
            out[mask, j] = x[mask] * 33.863886
        elif kind == "temperature":
            out[mask, j] = (x[mask] - 32) * 5 / 9
        elif kind == "speed":
            out[mask, j] = x[mask] * 1.609344
        elif kind in ("rate", "amount"):
            out[mask, j] = x[mask] * 25.4
    return out


def acq_dir(archive: str, day: dt.date) -> str:
    return os.path.join(archive, f"acq={day.strftime('%Y%m01')}T000000Z_{INSTRUMENT}_weather")


def day_dir(archive: str, day: dt.date) -> str:
    return os.path.join(acq_dir(archive, day), f"date={day.isoformat()}")


def read_day(archive: str, day: dt.date) -> dict[str, np.ndarray] | None:
    """A committed day's rows per station, sorted by dateTime, or None when
    the day has no partition."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(day_dir(archive, day), "*.parquet")))
    if not files:
        return None
    tbl = pa.concat_tables([pq.read_table(f) for f in files])
    missing = set(COLUMNS + ["station"]) - set(tbl.column_names)
    if missing:
        raise ValueError(f"{day}: archive lacks columns {sorted(missing)}")
    station = np.asarray(tbl.column("station").to_pylist(), dtype=object)
    data = np.column_stack(
        [np.asarray(tbl.column(c).to_numpy(zero_copy_only=False), dtype=float) for c in COLUMNS]
    )
    out = {}
    for s in sorted(set(station)):
        rows = data[station == s]
        out[s] = rows[np.argsort(rows[:, 0], kind="stable")]
    return out


def check_day(archive: str, day: dt.date, expected: dict[str, np.ndarray]) -> list[str]:
    """Problems with one committed day: row counts per station and every
    cell against the reference conversion (NULL must read back as NaN)."""
    try:
        got = read_day(archive, day)
    except (OSError, ValueError) as e:  # unreadable file, missing column
        return [f"{day}: {e}"]
    if got is None:
        return [f"{day}: no archive partition"]
    problems = []
    want = {s: reference_convert(r) for s, r in expected.items() if len(r)}
    if sorted(got) != sorted(want):
        problems.append(f"{day}: stations {sorted(got)} != {sorted(want)}")
    for s in sorted(set(got) & set(want)):
        g, w = got[s], want[s]
        if g.shape != w.shape:
            problems.append(f"{day}/{s}: {len(g)} rows, expected {len(w)}")
        elif not np.allclose(g, w, rtol=1e-12, atol=0.0, equal_nan=True):
            bad = np.argwhere(~np.isclose(g, w, rtol=1e-12, atol=0.0, equal_nan=True))[0]
            problems.append(
                f"{day}/{s}: {COLUMNS[bad[1]]} at dateTime {int(w[bad[0], 0])} "
                f"is {g[tuple(bad)]!r}, expected {w[tuple(bad)]!r}"
            )
    return problems


def read_state(out_dir: str) -> dt.date | None:
    try:
        with open(os.path.join(out_dir, "state")) as f:
            return dt.datetime.strptime(f.read().strip(), "%Y%m%d").date()
    except (OSError, ValueError):
        return None


def read_prom(out_dir: str) -> dict[str, float]:
    """Unlabelled samples of the Prometheus textfile the run flushed."""
    out = {}
    with open(os.path.join(out_dir, "aristoteles.prom")) as f:
        for line in f:
            if line.startswith("#") or "{" in line or not line.strip():
                continue
            name, value = line.split()
            out[name.removeprefix("aristoteles_")] = float(value)
    return out


def check_run(
    out_dir: str,
    committed: dict[dt.date, dict[str, np.ndarray]],
    empty_days: list[dt.date],
    next_day: dt.date,
) -> list[str]:
    """Problems with one CLI invocation's output: every day it committed,
    the days it must have skipped, the watermark (the day after the last
    committed or skipped day), leftover lock files, and the prom counters."""
    archive = os.path.join(out_dir, "archive")
    problems = []
    for day, expected in sorted(committed.items()):
        problems += check_day(archive, day, expected)
    for day in empty_days:
        if os.path.isdir(day_dir(archive, day)):
            problems.append(f"{day}: empty day has an archive partition")
    state = read_state(out_dir)
    if state != next_day:
        problems.append(f"watermark {state}, expected {next_day}")
    locks = glob.glob(os.path.join(archive, "**", ".*.lock"), recursive=True)
    if locks:
        problems.append(f"lock files left: {[os.path.basename(p) for p in locks]}")
    try:
        prom = read_prom(out_dir)
    except FileNotFoundError:
        prom = {}
    rows = sum(len(r) for d in committed.values() for r in d.values())
    want = {"status": 0.0}
    if committed:
        want.update(days_written=float(len(committed)), rows_written=float(rows))
    for k, v in want.items():
        if prom.get(k) != v:
            problems.append(f"prom {k} = {prom.get(k)}, expected {v}")
    return problems


def check_state_writes(tracer, root: int, days: int) -> str | None:
    """In a traced run, the watermark must be written once per day an
    invocation committed or skipped (the per-day crash-safe watermark):
    ``plans.state.write_state`` spans under the invocation's root span."""
    if not tracer.enabled:
        return None
    calls = tracer.total("plans.state.write_state", {root})[1]
    if calls != days:
        return f"watermark written {calls} times for {days} days committed or skipped"
    return None


def archive_layout(archive: str) -> dict[str, float]:
    """Files per committed day and stored bytes per archived row."""
    import pyarrow.parquet as pq

    files = [os.path.join(d, f) for d, _, fs in os.walk(archive) for f in fs]
    parts = [f for f in files if f.endswith(".parquet")]
    days = {os.path.dirname(f) for f in parts}
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in parts)
    return {
        "archive.files_per_day": len(parts) / max(len(days), 1),
        "archive.bytes_per_row": sum(os.path.getsize(f) for f in files) / max(rows, 1),
    }


# ---------------------------------------------------------------- workloads

ETL_SPANS = [
    ("aristoteles_spark.cli", "run", "plans.pipeline.run"),
    ("aristoteles_spark.plans.pipeline", "min_datetime", "sources.sqlite_source.min_datetime"),
    ("aristoteles_spark.plans.pipeline", "ranged_count", "sources.sqlite_source.ranged_count"),
    ("aristoteles_spark.plans.pipeline", "read_stations", "sources.sqlite_source.read_stations"),
    ("aristoteles_spark.plans.pipeline", "convert_dataframe", "functions.units.convert_dataframe"),
    ("aristoteles_spark.plans.pipeline", "write_day", "sinks.daily_parquet.write_day"),
    ("aristoteles_spark.plans.pipeline", "batch_write_days", "plans.pipeline.batch_write_days"),
    ("aristoteles_spark.plans.state", "write_state", "plans.state.write_state"),
    ("aristoteles_spark.obs.prom", "PromBuffer.flush", "obs.prom.PromBuffer.flush"),
]

_TIMED_LAYERS = [
    "sources.sqlite_source.min_datetime",
    "sources.sqlite_source.ranged_count",
    "sources.sqlite_source.read_stations",
    "sinks.daily_parquet.write_day",
    "plans.pipeline.batch_write_days",
]

ETL_LAYER_METRICS = [
    *[f"{n}.{k}" for n in _TIMED_LAYERS for k in ("s", "calls")],
    "functions.units.convert_dataframe.s",
    "plans.pipeline.run.self_s",
    "obs.prom.PromBuffer.flush.s",
    "plans.state.write_state.calls",
    "etl.days_processed",
    "spark.jobs_per_day",
    "spark.tasks_per_day",
    "spark.shuffle_write_bytes",
    "archive.files_per_day",
    "archive.bytes_per_row",
]


def _invoke(ctx, argv: list[str]) -> tuple[float, str | None, dict]:
    """One timed ``cli.main`` call in its own root span and job group.
    Returns (seconds, failure, trace ids for ``ctx.record``)."""
    from aristoteles_spark import cli

    trace = {"group": f"op-{len(ctx.ops)}", "root": len(ctx.tracer.spans)}
    if ctx.probe:
        ctx.probe.group(trace["group"])
    failure = None
    err = io.StringIO()
    with ctx.tracer.span("op"):
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stderr(err):
                status = cli.main(argv)
        except Exception as e:  # a failed operation is counted, not fatal
            status, failure = None, f"raised {type(e).__name__}: {e}"
        seconds = time.perf_counter() - t0
    if ctx.probe:
        ctx.probe.clear()
    if failure is None and status != 0:
        failure = f"exit status {status}: {err.getvalue().strip()[-300:]}"
    return seconds, failure, trace


def _layer_metrics(ctx, out_dir: str, days_processed: int) -> dict[str, float]:
    """Per-layer values over the warm invocations: seconds and calls per
    invocation, Spark counts per processed day, and the archive's layout."""
    warm = ctx.warm_ops()
    roots = {m["root"] for m in warm}
    n = max(len(warm), 1)
    out: dict[str, float] = {}
    for name in _TIMED_LAYERS:
        s, calls = ctx.tracer.total(name, roots)
        out[f"{name}.s"] = s / n
        out[f"{name}.calls"] = calls / n
    for name, (k, i) in {
        "functions.units.convert_dataframe": ("s", 0),
        "obs.prom.PromBuffer.flush": ("s", 0),
        "plans.state.write_state": ("calls", 1),
    }.items():
        out[f"{name}.{k}"] = ctx.tracer.total(name, roots)[i] / n
    out["plans.pipeline.run.self_s"] = ctx.tracer.self_time("plans.pipeline.run", roots) / n
    out["etl.days_processed"] = days_processed / n
    spark = {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0}
    for m in warm:
        t = ctx.probe.totals(m["group"])
        for k in spark:
            spark[k] += t[k]
    per_day = max(days_processed, 1)
    out["spark.jobs_per_day"] = spark["jobs"] / per_day
    out["spark.tasks_per_day"] = spark["tasks"] / per_day
    out["spark.shuffle_write_bytes"] = spark["shuffle_write_bytes"] / n
    out.update(archive_layout(os.path.join(out_dir, "archive")))
    return out


def _check_invocation(ctx, trace, failure, out, committed, skipped, next_day) -> str | None:
    """The failure of one ``cli.main`` call: its own, or the first problems
    its output has (``check_state_writes`` and ``check_run``)."""
    if failure is not None:
        return failure
    problems = [check_state_writes(ctx.tracer, trace["root"], len(committed) + len(skipped)),
                *check_run(out, committed, skipped, next_day)]
    return "; ".join([p for p in problems if p][:3]) or None


def etl_daily(ctx) -> dict[str, float]:
    """The cron mode: ``--reset-state`` to day H, a cold invocation that
    catches up a ``BACKLOG_DAYS``-day backlog, then per increment append
    the next day's samples to every station DB (untimed: the station
    writing beside the pipeline) and time one ``cli.main --stop <day>``.

    The cold pass is the session's first invocation, ``--stop H+2``. Its
    first day has one partial station-day (a seed-chosen station), the
    middle day is a gap day (all stations empty: the skip-day path) and the
    last day is complete. Each later pass is ``DAILY_PASS`` increments in
    which one seed-chosen station's day lands one increment late, so that
    run defers at the gate and the next one commits two days. The number
    of passes follows from ``ctx.seconds`` (see ``Context``), at least
    ``DAILY_MIN_WARM`` warm ones after the warm-up."""
    from aristoteles_spark import cli

    first = start_day(ctx.seed)
    h = first + dt.timedelta(days=HISTORY_DAYS)
    out = os.path.join(ctx.work, "daily")
    os.makedirs(out)
    dbs = {s: os.path.join(out, f"{s}.sqlite") for s in STATIONS}
    for k in range(HISTORY_DAYS):
        for i, s in enumerate(STATIONS):
            write_rows(dbs[s], station_day(ctx.seed, first + dt.timedelta(days=k), i))
    ini = os.path.join(out, "conf.ini")
    write_conf(ini, out, dbs)
    with contextlib.redirect_stderr(io.StringIO()):
        status = cli.main(["-c", ini, "--reset-state", h.strftime("%Y%m%d")])
    if status != 0 or read_state(out) != h:
        raise RuntimeError(f"--reset-state {h} failed: status {status}, state {read_state(out)}")

    backlog = [h + dt.timedelta(days=i) for i in range(BACKLOG_DAYS)]
    gap = backlog[1]
    partial = (backlog[0], int(np.random.default_rng([ctx.seed, 1]).integers(0, len(STATIONS))))
    committed: dict[dt.date, dict[str, np.ndarray]] = {}
    for day in backlog:
        if day == gap:
            continue
        committed[day] = {}
        for i, s in enumerate(STATIONS):
            rows = station_day(ctx.seed, day, i, PARTIAL_DROP if (day, i) == partial else 0)
            write_rows(dbs[s], rows)
            committed[day][s] = rows
    ctx.t0 = time.perf_counter()
    seconds, failure, trace = _invoke(ctx, ["-c", ini, "--stop", backlog[-1].strftime("%Y%m%d")])
    failure = _check_invocation(ctx, trace, failure, out, committed, [gap],
                                backlog[-1] + dt.timedelta(days=1))
    rows = sum(len(r) for d in committed.values() for r in d.values())
    ctx.record(f"etl_daily catch-up --stop {backlog[-1]:%Y%m%d}", 0, seconds, rows, failure,
               **trace)

    rng = np.random.default_rng([ctx.seed, 2])
    pending: dict[dt.date, dict[str, np.ndarray]] = {}  # appended, not yet committed
    held: list[tuple[str, np.ndarray]] = []  # a late station-day, appended next time
    days_processed = 0

    def increment(day: dt.date, late_station: int | None, pass_no: int) -> None:
        nonlocal pending, held, days_processed
        for s, rows in held:
            write_rows(dbs[s], rows)
        held = []
        pending[day] = {}
        for i, s in enumerate(STATIONS):
            rows = station_day(ctx.seed, day, i)
            pending[day][s] = rows
            if i == late_station:
                held.append((s, rows))
            else:
                write_rows(dbs[s], rows)
        seconds, failure, trace = _invoke(ctx, ["-c", ini, "--stop", day.strftime("%Y%m%d")])
        deferred = late_station is not None
        committed = {} if deferred else pending
        next_day = min(pending) if deferred else day + dt.timedelta(days=1)
        failure = _check_invocation(ctx, trace, failure, out, committed, [], next_day)
        rows = sum(len(r) for d in committed.values() for r in d.values())
        ctx.record(f"etl_daily --stop {day:%Y%m%d}", pass_no, seconds, rows, failure, **trace)
        if ctx.is_warm(pass_no):
            days_processed += len(committed)
        if not deferred:
            pending = {}

    day = backlog[-1]
    pass_no = 1
    while ctx.more(pass_no, DAILY_PASS_S, DAILY_MIN_WARM):
        late_at = int(rng.integers(0, DAILY_PASS - 1))
        late_station = int(rng.integers(0, len(STATIONS)))
        for k in range(DAILY_PASS):
            day += dt.timedelta(days=1)
            increment(day, late_station if k == late_at else None, pass_no)
        pass_no += 1
    return _layer_metrics(ctx, out, days_processed) if ctx.tracer.enabled else {}
