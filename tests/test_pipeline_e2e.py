"""Golden end-to-end pipeline tests (SURVEY.md §5.1 scenarios).

Each scenario builds synthetic wview SQLite fixtures, runs the incremental
pipeline, and checks output parquet + sidecars + state + idempotence.
"""

import datetime as dt
import json
import math
import os
import re
import sqlite3

import pytest

from aristoteles_spark.plans import state as S
from aristoteles_spark.plans.days import day_bounds
from aristoteles_spark.plans.pipeline import PipelineConfig, run
from aristoteles_spark.sources.sqlite_source import write_archive_sqlite
from tests.conftest import day_rows

DAY1 = dt.date(2020, 6, 1)
DAY2 = dt.date(2020, 6, 2)
DAY3 = dt.date(2020, 6, 3)
DAY4 = dt.date(2020, 6, 4)


def make_conf(tmp_path, station_db, station_rows, **kw):
    stations = {}
    for name, rows in station_rows.items():
        stations[name] = {"db_path": station_db(name, rows), "longitude": -119.6, "latitude": 49.3, "description": f"station {name}"}
    return PipelineConfig(
        state_path=str(tmp_path / "state"),
        instrument="testinst",
        archive=str(tmp_path / "archive"),
        stations=stations,
        netfc_path=str(tmp_path),
        **kw,
    )


def read_output(spark, conf):
    return spark.read.parquet(conf.archive)


def test_happy_path_complete_days(spark, tmp_path, station_db):
    conf = make_conf(tmp_path, station_db, {"s1": day_rows(DAY1) + day_rows(DAY2)})
    res = run(spark, conf, today=DAY3)  # yesterday = DAY2
    assert res.status == 0 and res.days_written == 2 and res.rows_written == 2 * 288
    out = read_output(spark, conf)
    assert out.count() == 576
    # partition layout
    acq_dir = os.path.join(conf.archive, "acq=20200601T000000Z_testinst_weather")
    assert os.path.isdir(os.path.join(acq_dir, "date=2020-06-01"))
    assert os.path.isdir(os.path.join(acq_dir, "date=2020-06-02"))
    # state advanced past DAY2
    assert S.read_state(conf.state_path) == DAY3
    # units converted: fixture rows are usUnits=1, outTemp base 50+...+4
    first = out.filter("date = '2020-06-01'").orderBy("dateTime").first()
    assert first["outTemp"] == pytest.approx((50.0 + 4 - 32) * 5 / 9, abs=1e-9)
    # prom file written
    prom = (tmp_path / "aristoteles.prom").read_text()
    assert "aristoteles_days_written 2" in prom
    assert 'aristoteles_samples_yesterday{station="s1"} 288' in prom
    # one wall-seconds gauge per run stage
    stages = dict(re.findall(r'^aristoteles_stage_seconds\{stage="(\w+)"\} (\S+)$', prom, re.M))
    assert sorted(stages) == ["probe", "publish", "read", "write"]
    assert all(float(v) >= 0 for v in stages.values())


def test_gate_defers_backlog(spark, tmp_path, station_db):
    rows = day_rows(DAY1) + day_rows(DAY2, n=287)  # incomplete target day
    conf = make_conf(tmp_path, station_db, {"s1": rows})
    res = run(spark, conf, today=DAY3)
    assert res.status == 0 and res.days_written == 0
    assert res.incomplete_stations == ["s1"]
    assert not os.path.exists(conf.archive)
    assert S.read_state(conf.state_path) is None  # watermark untouched


def test_gate_force_overrides(spark, tmp_path, station_db):
    rows = day_rows(DAY1) + day_rows(DAY2, n=287)
    conf = make_conf(tmp_path, station_db, {"s1": rows})
    res = run(spark, conf, today=DAY3, force=True)
    assert res.days_written == 2 and res.rows_written == 288 + 287


def test_multi_station_gate_any_incomplete(spark, tmp_path, station_db):
    conf = make_conf(
        tmp_path, station_db,
        {"a": day_rows(DAY1) + day_rows(DAY2), "b": day_rows(DAY1) + day_rows(DAY2, n=100)},
    )
    res = run(spark, conf, today=DAY3)
    assert res.incomplete_stations == ["b"] and res.days_written == 0


def test_empty_day_skipped_state_advances(spark, tmp_path, station_db):
    rows = day_rows(DAY1) + day_rows(DAY3)  # DAY2 missing entirely
    conf = make_conf(tmp_path, station_db, {"s1": rows})
    res = run(spark, conf, today=DAY3 + dt.timedelta(days=1))
    assert res.days_written == 2 and res.skipped_days == [DAY2]
    assert S.read_state(conf.state_path) == DAY3 + dt.timedelta(days=1)


def test_nothing_to_do(spark, tmp_path, station_db):
    conf = make_conf(tmp_path, station_db, {"s1": day_rows(DAY1)})
    S.write_state(conf.state_path, DAY2)  # watermark already past target
    res = run(spark, conf, today=DAY2)  # yesterday = DAY1 < first_day
    assert res.status == 0 and res.days_written == 0


def test_idempotent_rerun(spark, tmp_path, station_db):
    conf = make_conf(tmp_path, station_db, {"s1": day_rows(DAY1) + day_rows(DAY2)})
    run(spark, conf, today=DAY3)
    df1 = read_output(spark, conf).orderBy("dateTime").collect()
    # reset state and re-run: same output (dynamic partition overwrite)
    os.unlink(conf.state_path)
    run(spark, conf, today=DAY3)
    df2 = read_output(spark, conf).orderBy("dateTime").collect()
    assert df1 == df2


def test_null_to_nan_and_zero_quirk(spark, tmp_path, station_db):
    # two days, so the span is staged by one multi-day write
    rows = day_rows(DAY1, nulls_at={"dewpoint": [0]}, zeros_at={"outTemp": [1]}) + day_rows(
        DAY2, nulls_at={"dewpoint": [0]}, zeros_at={"outTemp": [1]}
    )
    conf = make_conf(tmp_path, station_db, {"s1": rows})
    assert run(spark, conf, today=DAY3).days_written == 2
    out = read_output(spark, conf).orderBy("dateTime").collect()
    for i in (0, 288):
        assert math.isnan(out[i]["dewpoint"])  # NULL -> NaN at the sink
        assert out[i + 1]["outTemp"] == 0.0  # 0 degF stays 0 (strict quirk)


def test_mixed_units_per_row(spark, tmp_path, station_db):
    rows = day_rows(DAY1, alternate_units=True)
    conf = make_conf(tmp_path, station_db, {"s1": rows})
    run(spark, conf, today=DAY2)
    out = read_output(spark, conf).orderBy("dateTime").collect()
    # even rows usUnits=0 (metric, untouched), odd rows converted
    assert out[0]["outTemp"] == pytest.approx(50.0 + 4, abs=1e-9)
    assert out[1]["outTemp"] == pytest.approx((50.01 + 4 - 32) * 5 / 9, abs=1e-9)


def test_sidecar_attrs(spark, tmp_path, station_db):
    conf = make_conf(tmp_path, station_db, {"s1": day_rows(DAY1)})
    run(spark, conf, today=DAY2)
    sidecar = json.load(open(os.path.join(conf.archive, "acq=20200601T000000Z_testinst_weather", "_attrs.json")))
    assert sidecar["global"]["archive_version"] == "4.0.0"
    assert sidecar["global"]["acquisition_type"] == "weather"
    assert sidecar["stations"]["s1"]["longitude"] == -119.6
    assert sidecar["units"]["outTemp"] == "deg C"
    assert sidecar["units"]["barometer"] == "hPa"
    assert sidecar["index_map"]["s1"] == "station_time_s1"


def test_output_time_sorted_within_day(spark, tmp_path, station_db):
    conf = make_conf(tmp_path, station_db, {"s1": day_rows(DAY1)})
    run(spark, conf, today=DAY2)
    acq_dir = os.path.join(conf.archive, "acq=20200601T000000Z_testinst_weather", "date=2020-06-01")
    files = [f for f in os.listdir(acq_dir) if f.endswith(".parquet")]
    assert len(files) == 1  # one file per day, like the reference
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(acq_dir, files[0]))
    times = t.column("dateTime").to_pylist()
    assert times == sorted(times)


def test_one_day_run_starts_only_its_write_jobs(spark, tmp_path, station_db):
    conf = make_conf(tmp_path, station_db, {"s1": day_rows(DAY1)})
    sc = spark.sparkContext
    sc.setJobGroup("one_day_run", "one_day_run")
    try:
        assert run(spark, conf, today=DAY2).rows_written == 288
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the staging write alone: one day is one coalesced task, so there is
    # no shuffle map stage (AQE would run it as a job of its own); no
    # isEmpty or count job
    assert len(sc.statusTracker().getJobIdsForGroup("one_day_run")) == 1


def test_one_day_run_tasks_bounded_by_parallelism(spark, tmp_path, station_db):
    """Three stations' day is one scan of one Arrow table written by one
    task: the run's tasks do not grow with the station count (a scan per
    station would start 3 x defaultParallelism tasks in its scan stage
    alone)."""
    conf = make_conf(tmp_path, station_db, {s: day_rows(DAY1) for s in ("s1", "s2", "s3")})
    sc = spark.sparkContext
    sc.setJobGroup("three_station_day", "three_station_day")
    try:
        assert run(spark, conf, today=DAY2).rows_written == 3 * 288
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    stages = {
        s
        for j in tracker.getJobIdsForGroup("three_station_day")
        for s in tracker.getJobInfo(j).stageIds
    }
    tasks = sum(tracker.getStageInfo(s).numCompletedTasks for s in stages)
    assert tasks == 1, tasks


def test_catch_up_writes_one_task_per_day_up_to_parallelism(spark, tmp_path, station_db):
    """A 6-day backlog with a skip day: the staging write runs
    min(6, defaultParallelism) tasks, each day is one file, and rows and
    watermark equal those of six one-day runs."""
    days = [DAY1 + dt.timedelta(days=i) for i in range(6)]
    rows = {s: [r for d in days if d != DAY3 for r in day_rows(d)] for s in ("s1", "s2")}
    last = days[-1]
    daily = _conf_in(tmp_path, "daily", station_db, rows)
    for d in days:
        run(spark, daily, stop=d)

    conf = _conf_in(tmp_path, "backlog", station_db, rows)
    sc = spark.sparkContext
    sc.setJobGroup("six_day_backlog", "six_day_backlog")
    try:
        res = run(spark, conf, today=last + dt.timedelta(days=1))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res.days_written == 5 and res.skipped_days == [DAY3]
    assert res.rows_written == 5 * 2 * 288

    # the write job is the group's last; its last stage writes the files
    tracker = sc.statusTracker()
    write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup("six_day_backlog")))
    write_stage = tracker.getStageInfo(max(write_job.stageIds))
    assert write_stage.numCompletedTasks == min(6, sc.defaultParallelism)

    acq = os.path.join(conf.archive, "acq=20200601T000000Z_testinst_weather")
    for d in days:
        part = os.path.join(acq, f"date={d.isoformat()}")
        if d == DAY3:
            assert not os.path.exists(part)
        else:
            assert len([f for f in os.listdir(part) if f.endswith(".parquet")]) == 1, d
    assert _outcome(spark, conf)[:2] == _outcome(spark, daily)[:2]
    assert S.read_state(conf.state_path) == last + dt.timedelta(days=1)


# ------------------------------------------------------- fault injection

BACKLOG = {s: day_rows(DAY1) + day_rows(DAY3) for s in ("s1", "s2")}  # DAY2: skip day


def _conf_in(tmp_path, name, station_db, station_rows=BACKLOG):
    os.makedirs(tmp_path / name)
    return make_conf(tmp_path / name, station_db, station_rows)


def _outcome(spark, conf):
    """Archive contents, watermark and the prom counters of the last run."""
    rows = sorted(tuple(r) for r in spark.read.parquet(conf.archive).collect())
    prom = {}
    with open(os.path.join(conf.netfc_path, "aristoteles.prom")) as f:
        for line in f:
            if line.startswith(("aristoteles_days_written", "aristoteles_rows_written")):
                name, value = line.split()
                prom[name] = float(value)
    return rows, S.read_state(conf.state_path), prom


def _leftovers(root):
    """Locks, swap backups and staging directories under ``root``."""
    return [
        os.path.join(d, n)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
        if n.endswith(".lock") or ".compact-" in n
    ]


@pytest.mark.parametrize("k", [0, 1, 2])
def test_crash_after_kth_day_then_rerun_matches_uninterrupted(
    spark, tmp_path, station_db, monkeypatch, k
):
    ref = _conf_in(tmp_path, "ref", station_db)
    run(spark, ref, today=DAY4)
    want_rows, want_state, want_prom = _outcome(spark, ref)
    assert want_prom["aristoteles_days_written"] == 2 and want_state == DAY4

    conf = _conf_in(tmp_path, "crash", station_db)
    real_write_state = S.write_state
    advanced = []

    def crash_on_day_k(path, day):  # day k (0-based) is published or skipped, unwatermarked
        if len(advanced) == k:
            raise RuntimeError("injected crash")
        advanced.append(day)
        real_write_state(path, day)

    monkeypatch.setattr(S, "write_state", crash_on_day_k)
    with pytest.raises(RuntimeError, match="injected crash"):
        run(spark, conf, today=DAY4)
    monkeypatch.undo()
    # the watermark stands at the last committed or skipped day
    assert S.read_state(conf.state_path) == (advanced[-1] + dt.timedelta(days=1) if advanced else None)
    _, _, crashed_prom = _outcome(spark, conf)  # counts what the crashed run committed
    with open(os.path.join(conf.netfc_path, "aristoteles.prom")) as f:
        assert sum(line.startswith("aristoteles_stage_seconds{") for line in f) == 4

    run(spark, conf, today=DAY4)
    rows, state, prom = _outcome(spark, conf)
    assert rows == want_rows and state == want_state
    assert {n: crashed_prom[n] + prom[n] for n in prom} == want_prom
    assert _leftovers(tmp_path) == []


def test_crash_between_swap_renames_is_repaired(spark, tmp_path, station_db, monkeypatch):
    conf = _conf_in(tmp_path, "swap", station_db)
    run(spark, conf, today=DAY4)
    want_rows, want_state, _ = _outcome(spark, conf)

    os.unlink(conf.state_path)  # the re-run swaps over the published days
    real_rename = os.rename

    def rename(src, dst):  # the second rename: staged partition -> destination
        if ".archive.compact-" in src:
            raise RuntimeError("injected crash")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(RuntimeError, match="injected crash"):
        run(spark, conf, today=DAY4)
    monkeypatch.undo()
    acq = os.path.join(conf.archive, "acq=20200601T000000Z_testinst_weather")
    assert not os.path.exists(os.path.join(acq, "date=2020-06-01"))
    assert os.path.isdir(os.path.join(acq, ".date=2020-06-01.compact-bak"))
    assert S.read_state(conf.state_path) is None
    # a killed run (no `finally`) also leaves its staging directory behind
    os.makedirs(os.path.join(tmp_path, "swap", ".archive.compact-killed", "date=2020-06-03"))

    # the next run repairs both before its gate, even when the gate defers
    # (one target-day sample missing); the day's lock stays until the day
    # is published again
    s1_db, last_sample = conf.stations["s1"]["db_path"], day_rows(DAY3)[-1]
    with sqlite3.connect(s1_db) as db:
        db.execute("DELETE FROM archive WHERE dateTime = ?", (last_sample[0],))
    deferred = run(spark, conf, today=DAY4)
    assert deferred.incomplete_stations == ["s1"] and deferred.days_written == 0
    assert _outcome(spark, conf)[0] == want_rows
    assert [p for p in _leftovers(tmp_path) if not p.endswith(".lock")] == []

    write_archive_sqlite(s1_db, [last_sample])
    run(spark, conf, today=DAY4)
    rows, state, _ = _outcome(spark, conf)
    assert rows == want_rows and state == want_state
    assert _leftovers(tmp_path) == []
