"""Benchmark entry point.

    python3 perfbench/run.py --workload <etl_daily|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One client, one process, closed loop. The
benchmark sets up the host itself (cores, local dirs, worker PYTHONPATH),
times the Spark set-up (driver-JVM launch, session, first job) as
``setup_s``, runs the workload against the program's public entry points
(``aristoteles_spark.cli.main`` and the declared queries), checks every
output outside the timed windows, and prints as its last stdout line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics). The line
before it is a JSON detail record: host, seed, error rate with the name of
every failed operation, tail percentile, and in a traced run the tracing
overhead.

Every file it writes stays under ``perfbench/.work`` (scratch, removed at
exit) and ``perfbench/.out`` (oracle digests, last results, traces).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# env switches that select a non-default execution regime; the benchmark
# measures the default one, which is the one the oracle verifies
REGIME_VARS = (
    "SPARK_GRAFT_CACHE_TABLES", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_PERIODIC_GC",
    "SPARK_GRAFT_NO_SHARED_TABLES", "SPARK_GRAFT_AUDIT_NO_BARRIER", "SPARK_GRAFT_CODEGEN_CACHE",
)

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "rows_per_s": "rows/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "warm_geomean_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
}


class Context:
    """What a workload needs: session, seed, run size, scratch dir, tracer
    and probe, and the operation log it appends to.

    Pass 0 is the cold pass on the fresh session. The ``warmup`` passes
    after it are run and checked but not timed into the metrics: the JIT
    is still compiling the program's hot paths then. The warm passes that
    follow measure ``seconds`` on a quiet 4-core host: their number is
    fixed, ``seconds`` over the workload's nominal warm pass time, and at
    least the workload's minimum. Warm passes keep getting faster for a
    minute or more; a run that fitted its passes to a deadline would weigh
    the slower early ones by how fast it happened to go, a fixed number
    weighs them the same in every run. On a loaded host a run starts no
    pass beyond the minimum after ``3 * seconds`` from its cold pass."""

    warmup = 1

    def __init__(self, spark, seed, seconds, work, tracer, probe, oracle=None):
        self.spark, self.seed, self.seconds, self.work = spark, seed, seconds, work
        self.tracer, self.probe, self.oracle = tracer, probe, oracle
        self.ops: list[dict] = []
        self.t0 = time.perf_counter()  # reset by the workload when its cold pass starts

    def record(self, name: str, pass_no: int, seconds: float, rows: int, failure: str | None,
               **trace) -> None:
        """Log one operation; ``trace`` holds its root span id and job group,
        and for an operation repeated once per pass its ``key``."""
        self.ops.append({"name": name, "pass": pass_no, "s": seconds, "rows": rows,
                         "failure": failure, **trace})

    def more(self, pass_no: int, pass_s: float, min_warm: int) -> bool:
        """Whether to start pass ``pass_no`` (1 is the first after the cold
        one), for a workload whose warm pass nominally takes ``pass_s``."""
        if pass_no <= self.warmup + min_warm:
            return True
        return (pass_no <= self.warmup + round(self.seconds / pass_s)
                and time.perf_counter() - self.t0 < 3 * self.seconds)

    def is_warm(self, pass_no: int) -> bool:
        return pass_no > self.warmup

    def warm_ops(self) -> list[dict]:
        return [o for o in self.ops if self.is_warm(o["pass"])]


def host_setup(work: str) -> int:
    """Cores from the affinity mask, scratch and Spark local dirs inside the
    checkout, the checkout on PYTHONPATH for Python workers, UTC."""
    nproc = len(os.sched_getaffinity(0))
    for var in REGIME_VARS:
        os.environ.pop(var, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)
    return nproc


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def failure_summary(ops: list[dict]) -> tuple[float, list[dict]]:
    """Error rate over all attempted operations, and each failed one by name."""
    failed = [{"op": o["name"], "reason": o["failure"]} for o in ops if o["failure"]]
    return len(failed) / len(ops), failed


def set_up_session(nproc: int, work: str):
    """``get_spark(cpus=nproc)`` until its first job returns, timed. It
    launches the driver JVM, as every cron invocation of the CLI does."""
    from aristoteles_spark.session import get_spark

    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"}
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=nproc, extra_conf=conf)
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def stop_spark() -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def typical_latencies(ops: list[dict]) -> list[float]:
    """The latencies the percentiles are taken over: one per operation, but
    one per ``key`` for operations repeated once per pass (a query), the
    median of its runs. A query's time depends on which query it is far
    more than on the pass, so a percentile over every run lands on the edge
    between two queries' times, taking the fastest run of one or the
    slowest of the other; over per-query medians it does not."""
    groups: dict[object, list[float]] = {}
    for i, o in enumerate(ops):
        groups.setdefault(o.get("key", i), []).append(o["s"])
    return [statistics.median(v) for v in groups.values()]


def end_to_end(ctx, setup_s: float, peak_rss: float) -> tuple[dict, str]:
    """The end-to-end metrics from the operation log: the cold pass, and
    latency, geomean, rows/s and the mean pass over the warm passes."""
    from perfbench.tracing import geomean, tail

    cold = [o for o in ctx.ops if o["pass"] == 0]
    warm = ctx.warm_ops()
    lat = [o["s"] for o in warm]
    typical = typical_latencies(warm)
    tail_s, tail_label = tail(typical)
    if len(typical) < len(lat):
        tail_label += " per-key medians"
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss,
        "rows_per_s": sum(o["rows"] for o in warm) / sum(lat),
        "latency_p50_s": statistics.median(typical),
        "latency_tail_s": tail_s,
        "warm_geomean_s": geomean(lat),
        "cold_pass_s": sum(o["s"] for o in cold),
        "warm_pass_s": sum(lat) / len({o["pass"] for o in warm}),
    }, tail_label


def per_layer_names() -> list[str]:
    from perfbench.etl import ETL_LAYER_METRICS
    from perfbench.querymix import QUERY_LAYER_METRICS

    return ETL_LAYER_METRICS + QUERY_LAYER_METRICS


def layer_unit(name: str) -> str:
    if name.endswith((".s", "_s")) or "_s." in name:
        return "s"
    if "bytes" in name:
        return "B"
    return "count"


def run(args) -> tuple[dict, dict]:
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    nproc = host_setup(work)
    try:
        from perfbench import etl, querymix
        from perfbench.tracing import SparkProbe, Tracer, vm_hwm_mb

        workload, spans = {
            "etl_daily": (etl.etl_daily, etl.ETL_SPANS),
            "query_mix": (querymix.query_mix, []),
        }[args.workload]
        oracle = None
        if args.workload == "query_mix":
            oracle = querymix.oracle_digests(
                os.path.join(out_dir, "oracle_digests.json"), list(querymix.QUERIES))
        steal0, ticks0 = cpu_ticks()
        spark, setup_s = set_up_session(nproc, work)
        tracer = Tracer(uuid.uuid4().hex[:12], enabled=bool(args.trace))
        probe = SparkProbe(spark) if args.trace else None
        ctx = Context(spark, args.seed, args.seconds, work, tracer, probe, oracle)
        tracer.install(spans)
        try:
            layer = workload(ctx)
        finally:
            tracer.uninstall()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"jvm": vm_hwm_mb(jvm_pid), "python": vm_hwm_mb(os.getpid())}
        steal1, ticks1 = cpu_ticks()
        e2e, tail_label = end_to_end(ctx, setup_s, rss["jvm"] + rss["python"])
        spark_version = spark.version
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    error_rate, failed = failure_summary(ctx.ops)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_id": tracer.run_id,
        "host": {"nproc": nproc, "mem_total_mb": round(mem_total_mb()),
                 "python": platform.python_version(), "spark": spark_version},
        "peak_rss_mb_each": rss,
        "cpu_steal_share": (steal1 - steal0) / max(ticks1 - ticks0, 1),
        "latency_tail": tail_label,
        "passes": 1 + max(o["pass"] for o in ctx.ops),
        "error_rate": error_rate,
        "failed_ops": failed,
        "end_to_end": e2e,
    }
    last = os.path.join(out_dir, f"last-{args.workload}-seed{args.seed}.json")
    if args.trace:
        layer = {n: layer.get(n, 0.0) for n in per_layer_names()}
        try:
            with open(last) as f:
                untraced = json.load(f)
            detail["trace_overhead"] = {k: e2e[k] - untraced[k] for k in e2e}
        except (OSError, ValueError, KeyError):
            detail["trace_overhead"] = None  # no untraced run of this seed yet
        trace_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}-{tracer.run_id}.json")
        with open(trace_path, "w") as f:
            json.dump({**detail, "per_layer": layer, "spans": tracer.spans,
                       "ops": ctx.ops}, f, indent=1)
        detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        metrics = {n: {"value": v, "unit": layer_unit(n)} for n, v in layer.items()}
    else:
        with open(last, "w") as f:
            json.dump(e2e, f)
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    result = {"correct": not failed, "attempted": len(ctx.ops), "failed": len(failed),
              "metrics": metrics}
    return detail, result


def main() -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=["etl_daily", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "aristoteles_spark")):
        print(f"no aristoteles_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    detail, result = run(args)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
