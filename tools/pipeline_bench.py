"""ETL-pipeline throughput benchmark: the reference-parity surface at speed.

Synthesizes a multi-month, multi-station wview archive (SQLite, the
reference's input format), then times ``plans.pipeline.run`` catching up
the whole span from an empty archive: the gate, one staged write of every
pending day, and the day-by-day publish with its watermark advance.

For context, the reference processes the same workload single-threaded in
Python with one SQLite query + one HDF5 write per day x station and a
scalar per-cell conversion loop (aristoteles.py:339-476). It publishes no
numbers (BASELINE.md), so the comparison target is structural: rows/s
here vs a serial interpreter loop over the same rows.

Each run's wall is split by stage from the ``aristoteles_stage_seconds``
gauges of the Prometheus textfile the run writes into the work dir. One
untimed warm-up run goes first, so the timed runs see a warm session.

Rewrites PIPELINE_BENCH.md. Usage: python tools/pipeline_bench.py [days]
"""

from __future__ import annotations

import datetime as dt
import os
import platform
import re
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DAYS = int(sys.argv[1]) if len(sys.argv) > 1 else 180
N_STATIONS = 3
SAMPLES = 288
REPEATS = 3


def synth(workdir: str) -> "PipelineConfig":
    from aristoteles_spark.plans.pipeline import PipelineConfig
    from aristoteles_spark.schema import MEASURES
    from aristoteles_spark.sources.sqlite_source import write_archive_sqlite

    start = dt.date(2020, 1, 1)
    stations = {}
    for s in range(N_STATIONS):
        rows = []
        for d in range(N_DAYS):
            day = start + dt.timedelta(days=d)
            t0 = int(
                dt.datetime(
                    day.year, day.month, day.day, tzinfo=dt.timezone.utc
                ).timestamp()
            )
            for i in range(SAMPLES):
                rows.append(
                    (
                        t0 + i * 300,
                        s % 2,  # half the stations in US units
                        *[40.0 + (i % 50) * 0.5 + j for j in range(len(MEASURES))],
                    )
                )
        path = f"{workdir}/station_{s}.sqlite"
        write_archive_sqlite(path, rows)
        stations[f"st{s}"] = {"db_path": path}
    return PipelineConfig(
        state_path=f"{workdir}/state",
        instrument="wx",
        archive=f"{workdir}/archive",
        stations=stations,
        netfc_path=workdir,
    )


def stage_seconds(netfc_path: str) -> dict[str, float]:
    """The run's ``aristoteles_stage_seconds{stage}`` gauges, from its prom file."""
    with open(os.path.join(netfc_path, "aristoteles.prom")) as f:
        return {
            m[1]: float(m[2])
            for m in re.finditer(r'^aristoteles_stage_seconds\{stage="(\w+)"\} (\S+)$', f.read(), re.M)
        }


def host() -> str:
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    cpu = platform.processor() or platform.machine()
    return f"{os.cpu_count()} CPUs ({cpu}), {mem:.0f} GiB RAM, Python {platform.python_version()}"


def main() -> None:
    from aristoteles_spark.plans.pipeline import run
    from aristoteles_spark.session import get_spark

    spark = get_spark("pipeline_bench")
    spark.sparkContext.setLogLevel("ERROR")
    workdir = tempfile.mkdtemp(prefix="plbench_")
    conf = synth(workdir)
    total_rows = N_DAYS * N_STATIONS * SAMPLES
    last = dt.date(2020, 1, 1) + dt.timedelta(days=N_DAYS - 1)

    def once() -> tuple[float, dict[str, float]]:
        shutil.rmtree(conf.archive, ignore_errors=True)
        if os.path.exists(conf.state_path):
            os.remove(conf.state_path)
        t0 = time.perf_counter()
        res = run(spark, conf, stop=last)
        wall = time.perf_counter() - t0
        assert (res.days_written, res.rows_written) == (N_DAYS, total_rows), res
        return wall, stage_seconds(conf.netfc_path)

    # untimed: the first run pays the session's cold costs (JIT, codegen,
    # first Python worker), which the median of three would half-absorb
    once()
    walls, stages = zip(*(once() for _ in range(REPEATS)))
    wall = statistics.median(walls)
    split = {st: statistics.median(s[st] for s in stages) for st in stages[0]}

    header = ["path", "wall s", "rows/s", "days/s", *(f"{st} s" for st in split)]
    row = [
        "`run` (one staged write, per-day publish + watermark)",
        f"{wall:.1f}",
        f"{total_rows / wall:,.0f}",
        f"{N_DAYS / wall:.1f}",
        *(f"{v:.2f}" for v in split.values()),
    ]
    table = "\n".join("| " + " | ".join(r) + " |" for r in (header, ["---"] * len(header), row))
    out = (
        "# Pipeline throughput (reference-parity ETL surface)\n\n"
        f"Generated by tools/pipeline_bench.py: {N_DAYS} days x "
        f"{N_STATIONS} stations x {SAMPLES} samples = {total_rows:,} rows, "
        "SQLite in -> converted -> partitioned parquet out, "
        f"`{spark.sparkContext.master}` on one host: {host()}.\n\n"
        f"`run` catches up the whole span from an empty archive, median of "
        f"{REPEATS} runs after one untimed warm-up run "
        f"(walls {', '.join(f'{w:.1f}' for w in walls)} s):\n\n"
        f"{table}\n\n"
        "The stage columns are the median per stage of the runs'\n"
        "`aristoteles_stage_seconds{stage}` gauges (`plans/pipeline.py`):\n"
        "`probe` the min and gate SQLite probes, `read` the SQLite reads\n"
        "into one Arrow table, `write` the conversion plus the staging\n"
        "job, `publish` the per-day swaps, sidecars and watermark.\n\n"
        "The reference executes this workload as a serial Python loop —\n"
        "one SQLite query and one HDF5 file per day x station, scalar\n"
        "per-cell unit conversion (aristoteles/aristoteles.py:332-476) —\n"
        "and publishes no throughput numbers (BASELINE.md).\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PIPELINE_BENCH.md"), "w") as f:
        f.write(out)
    print(out)
    shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
