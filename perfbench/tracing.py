"""Spans, counters and Spark job-group probes for the traced run.

Spans are recorded only by a ``Tracer`` created with ``enabled=True``; the
untraced run uses the same calls and records nothing. Layer spans come from
wrappers installed on the module attributes the program calls through (for
example ``aristoteles_spark.plans.pipeline.read_stations``), so the program
itself is unchanged and the wrappers are removed when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import math
import statistics
import time


class Tracer:
    """In-memory span recorder: name, start, end, parent span, run id."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._installed: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def install(self, targets: list[tuple[str, str, str]]) -> None:
        """Wrap ``module.attr`` (attr may be ``Class.method``) in a span named
        ``span_name``. A target the program no longer has is skipped: its
        span then has zero calls."""
        if not self.enabled:
            return
        for module, attr, span_name in targets:
            owner = importlib.import_module(module)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            original = getattr(owner, leaf, None)
            if original is None:
                continue
            setattr(owner, leaf, self._wrap(original, span_name))
            self._installed.append((owner, leaf, original))

    def uninstall(self) -> None:
        while self._installed:
            owner, leaf, original = self._installed.pop()
            setattr(owner, leaf, original)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def total(self, name: str, roots: set[int]) -> tuple[float, int]:
        """(seconds, calls) of the spans called ``name`` below one of the
        ``roots`` span ids."""
        spans = [s for s in self.spans if s["name"] == name and self._under(s, roots)]
        return sum(s["end"] - s["start"] for s in spans), len(spans)

    def self_time(self, name: str, roots: set[int]) -> float:
        """Duration of the ``name`` spans below ``roots`` minus what their
        child spans cover (spans nest on one thread, so children never
        overlap)."""
        ids = {s["id"] for s in self.spans if s["name"] == name and self._under(s, roots)}
        own = sum(self.spans[i]["end"] - self.spans[i]["start"] for i in ids)
        kids = sum(s["end"] - s["start"] for s in self.spans if s["parent"] in ids)
        return own - kids

    def _under(self, span: dict, roots: set[int]) -> bool:
        p = span["parent"]
        while p is not None:
            if p in roots:
                return True
            p = self.spans[p]["parent"]
        return False


class SparkProbe:
    """Job, task, shuffle, spill and executor-time totals for one job group,
    read from ``statusTracker()`` and the AppStatusStore."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = spark._jsparkSession.sparkContext().statusStore()

    def group(self, name: str) -> None:
        self._sc.setJobGroup(name, name)

    def clear(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def totals(self, name: str) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        jobs = self._sc.statusTracker().getJobIdsForGroup(name)
        out = {"jobs": len(jobs), "tasks": 0, "shuffle_write_bytes": 0,
               "executor_run_s": 0.0, "spill_bytes": 0}
        stages: set[int] = set()
        for jid in jobs:
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # evicted from the store
                continue
            out["tasks"] += job.numCompletedTasks()
            it = job.stageIds().iterator()
            while it.hasNext():
                stages.add(int(it.next()))
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage skipped, never submitted
                continue
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def tail(values: list[float]) -> tuple[float, str]:
    """The 90th percentile, interpolated between the two samples around it,
    and its label. It moves smoothly with the number of samples, which a run
    of a fixed length does not fix."""
    if len(values) == 1:
        return values[0], "p90 of 1"
    return statistics.quantiles(values, n=10, method="inclusive")[-1], f"p90 of {len(values)}"


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
