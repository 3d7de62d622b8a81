"""One call's Spark evidence, read from the AppStatusStore.

``profile(spark, name, fn, sf_dir, n)`` runs ``fn(spark, sf_dir).collect()``
under the job group ``f"{name}#{n}"``, unique to the call because the store
keeps the jobs of earlier calls, drains the listener bus and sums the
group's jobs and stages. Jobs that another thread starts under its own
group (a streaming query's microbatches) are not counted. ``job_s`` is the
time at least one of the call's jobs ran; ``driver_s`` = wall - ``job_s``
is planning, driver-side Python and result transfer.

``plan_hash`` is an md5 of the executed plan with the ids that change from
call to call normalized: expression ids ``#12``, ``plan_id=3``, codegen
stage ids ``*(4)``, lambda variables ``x_7``, AQE query-stage ids (numbered
in the order concurrent stages finish) and some scan metadata (below).

    python -m aristoteles_spark.obs.profile q1 [q2 ...] [--passes=N]
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

_VOLATILE_IDS = re.compile(r"(#|plan_id=|\*\(|lambda \w+_|QueryStage )\d+")
# scan metadata that differs between calls of one program: the files a
# scan lists (a fresh temp dir per call) and filters abbreviated at a fixed
# length *before* their ids are normalized (the Filter node keeps them)
_SCAN_METADATA = re.compile(r"((?:DataFilters|Location|PartitionFilters): \w*).*?(?=, \w+: )")


def normalized_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return _SCAN_METADATA.sub(r"\1...", _VOLATILE_IDS.sub(r"\1N", plan))


def plan_hash(df) -> str:
    return hashlib.md5(normalized_plan(df).encode()).hexdigest()


def profile(spark, name: str, fn, sf_dir: str, n: int = 0) -> dict:
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    group = f"{name}#{n}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        t0_ms = time.time() * 1000
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        rows = len(df.collect())
        wall = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs, stage_ids = [], set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        start, end = job.submissionTime().get().getTime(), job.completionTime()
        end = end.get().getTime() if end.isDefined() else start
        desc = job.description()
        jobs.append((start, end, desc.get() if desc.isDefined() else job.name()))
        it = job.stageIds().iterator()
        while it.hasNext():
            stage_ids.add(int(it.next()))
    out = dict.fromkeys(("stages", "tasks", "input_bytes", "shuffle_read_bytes",
                         "shuffle_write_bytes", "spill_bytes"), 0)
    run_ms = 0
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # skipped, never submitted
            continue
        sub = st.submissionTime()
        # a stage this call skipped reports the earlier call that ran it
        if not sub.isDefined() or sub.get().getTime() < t0_ms:
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["input_bytes"] += st.inputBytes()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        run_ms += st.executorRunTime()
    # AQE runs independent query stages as concurrent jobs: count the time
    # of the call covered by at least one job, not the sum of overlapping
    # jobs (a cancelled job can end after the call returned)
    job_ms, reach = 0, t0_ms
    for start, end, _ in sorted(jobs):
        end = min(end, t0_ms + wall * 1000)
        job_ms += max(0, end - max(start, reach))
        reach = max(reach, end)
    slowest = max(jobs, key=lambda j: j[1] - j[0], default=(0, 0, None))
    return {
        "wall_s": round(wall, 3), "jobs": len(jobs), **out,
        "job_s": round(job_ms / 1000, 3), "driver_s": round(wall - job_ms / 1000, 3),
        "slowest_job": slowest[2], "slowest_job_s": round((slowest[1] - slowest[0]) / 1000, 3),
        "executor_run_s": round(run_ms / 1000, 3), "result_rows": rows,
        "plan_hash": plan_hash(df),
    }


def main() -> None:
    import __spark_entry__ as entrymod
    from aristoteles_spark.session import get_spark

    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    passes = next((int(a.split("=", 1)[1]) for a in sys.argv[1:] if a.startswith("--passes=")), 1)
    # the bench's default scale, next to the smoke data
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(entrymod.SMOKE_DIR), "sf0.1"))
    os.environ.setdefault("SPARK_GRAFT_PERIODIC_GC", "12h")  # no GC pause inside a call
    spark = get_spark("profile")
    qs = entrymod.queries()
    for name in names:
        qs[name](spark, sf_dir).collect()  # warm-up, also builds shared tables
        for n in range(passes):
            print(json.dumps({"query": name, "pass": n, **profile(spark, name, qs[name], sf_dir, n)}))


if __name__ == "__main__":
    main()
