"""Per-query Spark-job decomposition profiler (guide §1.1/§1.5).

Runs the named declared queries once for warmup and once measured, then
dumps every Spark job the measured run submitted — duration, description,
stage/task counts — straight from the in-process AppStatusStore. This is
the empirical loop of the optimization guide: find WHICH job inside a
multi-job query carries the wall time before touching any code.

Usage: python tools/job_profile.py q1 [q2 ...] [--passes N]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _jobs_since(spark, t0_ms: int):
    """All jobs whose submission time >= t0_ms, via the status store."""
    store = spark._jsparkSession.sparkContext().statusStore()
    out = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        sub = j.submissionTime()
        if not sub.isDefined():
            continue
        sub_ms = sub.get().getTime()
        if sub_ms < t0_ms:
            continue
        comp = j.completionTime()
        dur = (comp.get().getTime() - sub_ms) / 1000.0 if comp.isDefined() else None
        desc = j.description()
        stages = []
        sit = j.stageIds().iterator()
        while sit.hasNext():
            stages.append(sit.next())
        out.append(
            {
                "jobId": j.jobId(),
                "sec": dur,
                "tasks": j.numTasks(),
                "stages": stages,
                "desc": (desc.get() if desc.isDefined() else j.name())[:110],
            }
        )
    return sorted(out, key=lambda r: r["jobId"])


def _stage_name(spark, sid) -> str:
    try:
        info = spark.sparkContext.statusTracker().getStageInfo(int(str(sid)))
        if info is None:
            return "?"
        return f"{info.name} tasks={info.numTasks}"
    except Exception as e:  # noqa: BLE001
        return f"? ({e})"


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    passes = 1
    for a in sys.argv[1:]:
        if a.startswith("--passes"):
            passes = int(a.split("=", 1)[1])

    os.environ.setdefault("SPARK_GRAFT_PERIODIC_GC", "12h")
    import __spark_entry__ as entrymod
    from aristoteles_spark.session import get_spark

    spark = get_spark("job_profile")
    qs = entrymod.queries()
    for name in args:
        fn = qs[name]
        fn(spark, SF_DIR).collect()  # warmup (also builds shared tables)
        for p in range(passes):
            t0_ms = int(time.time() * 1000)
            t0 = time.time()
            fn(spark, SF_DIR).collect()
            wall = time.time() - t0
            jobs = _jobs_since(spark, t0_ms)
            print(f"\n=== {name} pass {p}: wall {wall:.3f}s, {len(jobs)} jobs ===")
            job_sum = 0.0
            for j in jobs:
                job_sum += j["sec"] or 0.0
                print(
                    f"  job {j['jobId']:>5}  {j['sec'] if j['sec'] is not None else '?':>7}s"
                    f"  tasks={j['tasks']:>4}  {j['desc']}"
                )
                if (j["sec"] or 0.0) >= 0.5:
                    for sid in j["stages"]:
                        print(f"        stage {sid}: {_stage_name(spark, sid)[:160]}")
            print(f"  sum(job durations) = {job_sum:.3f}s; gap (driver/planning) = {wall - job_sum:.3f}s")


if __name__ == "__main__":
    main()
