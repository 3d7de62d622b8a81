"""Tests of the benchmark's own output checks; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import etl, querymix
from perfbench.run import Context, failure_summary, typical_latencies
from perfbench.tracing import Tracer, tail

DAY = dt.date(2022, 3, 31)


def write_archive(out_dir: str, committed: dict, next_day: dt.date, rows_written=None) -> None:
    """A correct archive for ``committed`` as the pipeline lays it out,
    with the watermark and prom file of a successful run."""
    for day, per_station in committed.items():
        d = etl.day_dir(os.path.join(out_dir, "archive"), day)
        os.makedirs(d)
        for s, rows in per_station.items():
            conv = etl.reference_convert(rows)
            cols = {"station": pa.array([s] * len(conv))}
            cols["dateTime"] = pa.array(conv[:, 0].astype(np.int64))
            cols["usUnits"] = pa.array(conv[:, 1].astype(np.int32))
            for j, m in enumerate(etl.MEASURES, start=2):
                cols[m] = pa.array(conv[:, j])
            pq.write_table(pa.table(cols), os.path.join(d, f"part-{s}.parquet"))
    with open(os.path.join(out_dir, "state"), "w") as f:
        f.write(next_day.strftime("%Y%m%d") + "\n")
    n = sum(len(r) for p in committed.values() for r in p.values())
    with open(os.path.join(out_dir, "aristoteles.prom"), "w") as f:
        f.write(f"aristoteles_days_written {len(committed)}\n")
        f.write(f"aristoteles_rows_written {n if rows_written is None else rows_written}\n")
        f.write("aristoteles_status 0\n")


@pytest.fixture
def committed():
    return {DAY: {s: etl.station_day(7, DAY, i) for i, s in enumerate(etl.STATIONS)}}


@pytest.fixture
def archive(tmp_path, committed):
    write_archive(str(tmp_path), committed, DAY + dt.timedelta(days=1))
    return str(tmp_path)


def test_generator_mixes_units_nulls_and_zeros(committed):
    rows = committed[DAY]
    assert set(rows["st2"][:, 1]) == {0.0, 1.0}
    assert np.isnan(rows["st0"][:, 2:]).any()
    assert (rows["st0"][:, 2:] == 0.0).any()
    conv = etl.reference_convert(rows["st0"])
    zero = rows["st0"][:, 2:] == 0.0
    assert (conv[:, 2:][zero] == 0.0).all()  # strict mode keeps exact zeros
    np.testing.assert_array_equal(etl.reference_convert(rows["st1"]), rows["st1"])


def test_correct_archive_passes(archive, committed):
    assert etl.check_run(archive, committed, [], DAY + dt.timedelta(days=1)) == []


def test_one_changed_cell_fails(archive, committed):
    path = os.path.join(etl.day_dir(os.path.join(archive, "archive"), DAY), "part-st2.parquet")
    tbl = pq.read_table(path)
    temp = tbl.column("outTemp").to_numpy().copy()
    temp[100] = temp[100] + 0.01 if not np.isnan(temp[100]) else 1.0
    pq.write_table(tbl.set_column(tbl.schema.get_field_index("outTemp"), "outTemp", pa.array(temp)), path)
    problems = etl.check_run(archive, committed, [], DAY + dt.timedelta(days=1))
    assert any("st2" in p and "outTemp" in p for p in problems)


def test_null_must_read_back_as_nan(archive, committed):
    path = os.path.join(etl.day_dir(os.path.join(archive, "archive"), DAY), "part-st0.parquet")
    tbl = pq.read_table(path)
    m = "windSpeed"
    col = tbl.column(m).to_numpy()
    nan_at = int(np.flatnonzero(np.isnan(col))[0])
    patched = pa.array(np.where(np.arange(len(col)) == nan_at, 0.0, col))
    pq.write_table(tbl.set_column(tbl.schema.get_field_index(m), m, patched), path)
    assert etl.check_run(archive, committed, [], DAY + dt.timedelta(days=1))


def test_leftover_lock_fails(archive, committed):
    acq = etl.acq_dir(os.path.join(archive, "archive"), DAY)
    open(os.path.join(acq, f".{DAY:%Y%m%d}.lock"), "w").close()
    problems = etl.check_run(archive, committed, [], DAY + dt.timedelta(days=1))
    assert any("lock" in p for p in problems)


def test_watermark_one_day_ahead_fails(tmp_path, committed):
    write_archive(str(tmp_path), committed, DAY + dt.timedelta(days=2))
    problems = etl.check_run(str(tmp_path), committed, [], DAY + dt.timedelta(days=1))
    assert any("watermark" in p for p in problems)


def test_prom_rows_mismatch_fails(tmp_path, committed):
    write_archive(str(tmp_path), committed, DAY + dt.timedelta(days=1), rows_written=1)
    problems = etl.check_run(str(tmp_path), committed, [], DAY + dt.timedelta(days=1))
    assert any("rows_written" in p for p in problems)


def test_missing_prom_and_unreadable_part_are_problems_not_crashes(archive, committed):
    os.remove(os.path.join(archive, "aristoteles.prom"))
    path = os.path.join(etl.day_dir(os.path.join(archive, "archive"), DAY), "part-st1.parquet")
    with open(path, "wb") as f:
        f.write(b"not parquet")
    problems = etl.check_run(archive, committed, [], DAY + dt.timedelta(days=1))
    assert any("prom status" in p for p in problems)
    assert any(str(DAY) in p for p in problems)


def test_skipped_day_with_partition_fails(archive, committed):
    problems = etl.check_run(archive, {}, [DAY], DAY + dt.timedelta(days=1))
    assert any("empty day" in p for p in problems)


def test_altered_query_row_fails_oracle_check():
    cols = ["k", "v", "d"]
    rows = [(1, 0.5, dt.date(2020, 1, 2)), (2, float("nan"), None), (3, 2.25, dt.date(2020, 1, 3))]
    oracle = {"rows": 3, "cols": sorted(cols), "digest": querymix.digest(cols, rows)}
    shuffled = [rows[2], rows[0], rows[1]]
    assert querymix.check_result("q", cols, shuffled, oracle) is None
    altered = [rows[0], rows[1], (3, 2.2500001, dt.date(2020, 1, 3))]
    assert "differ" in querymix.check_result("q", cols, altered, oracle)
    assert "rows" in querymix.check_result("q", cols, rows[:2], oracle)


def test_oracle_side_digest_matches_spark_side_cells():
    import pandas as pd

    spark_rows = [(1, 0.5, dt.date(2020, 1, 2), None)]
    df = pd.DataFrame({"a": [1], "b": [0.5], "c": pd.to_datetime(["2020-01-02"]), "d": [float("nan")]})
    oracle_rows = list(df.itertuples(index=False, name=None))
    assert querymix.digest(list("abcd"), spark_rows) == querymix.digest(list("abcd"), oracle_rows)


def test_failed_operation_is_named_in_error_rate(monkeypatch, tmp_path):
    from aristoteles_spark import cli

    def boom(argv):
        raise RuntimeError("disk full")

    monkeypatch.setattr(cli, "main", boom)
    ctx = Context(None, 1, 1.0, str(tmp_path), Tracer("t", enabled=False), None)
    seconds, failure, trace = etl._invoke(ctx, ["-c", "x.ini"])
    ctx.record("etl_daily --stop 20220331", 0, seconds, 0, failure, **trace)
    ctx.record("etl_daily --stop 20220401", 0, 0.5, 864, None)
    rate, failed = failure_summary(ctx.ops)
    assert rate == 0.5
    assert failed == [{"op": "etl_daily --stop 20220331",
                       "reason": "raised RuntimeError: disk full"}]


def test_tail_is_interpolated_p90():
    assert tail([3.0]) == (3.0, "p90 of 1")
    assert tail([1.0, 2.0, 3.0]) == (2.8, "p90 of 3")
    xs = [float(i) for i in range(1, 41)]
    assert tail(xs) == (pytest.approx(36.1), "p90 of 40")


def test_repeated_operations_count_once_by_their_median():
    ops = [{"key": "q1", "s": 1.0}, {"key": "q2", "s": 5.0}, {"key": "q1", "s": 3.0},
           {"key": "q1", "s": 2.0}, {"s": 0.5}, {"s": 0.7}]
    assert typical_latencies(ops) == [2.0, 5.0, 0.5, 0.7]


def test_watermark_once_per_span_fails_state_write_check(tmp_path):
    from aristoteles_spark.plans import state

    tracer = Tracer("t", enabled=True)
    tracer.install([e for e in etl.ETL_SPANS if e[1] == "write_state"])
    path = str(tmp_path / "state")
    days = [DAY + dt.timedelta(days=k) for k in range(3)]
    try:
        with tracer.span("op"):  # the per-day loop: one watermark per day
            for day in days:
                state.write_state(path, day)
        with tracer.span("op"):  # a batched span: one watermark at the end
            state.write_state(path, days[-1])
    finally:
        tracer.uninstall()
    assert etl.check_state_writes(tracer, 0, len(days)) is None
    problem = etl.check_state_writes(tracer, 4, len(days))
    assert problem == "watermark written 1 times for 3 days committed or skipped"
    assert etl.check_state_writes(Tracer("u", enabled=False), 0, 3) is None
