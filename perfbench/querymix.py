"""The ``query_mix`` workload: a fixed list of declared queries, one cold pass
on a fresh session and then warm passes, each result checked against the
query's ``oracle_sql()`` through duckdb.

The oracle side runs in a child process (``perfbench/oracle.py``) so that
duckdb's memory never counts in the measured peak RSS; its digests are
cached on disk keyed by a hash of the SQL text, the data path and the
correctness gate's source, because the duckdb side of the heavier queries
is slow and does not change between runs. Both sides are canonicalized by
the gate's own strict functions, imported from ``tools/check_correctness.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
GATE = os.path.join(os.path.dirname(HERE), "tools", "check_correctness.py")
sys.path.append(os.path.dirname(GATE))

from check_correctness import (  # noqa: E402
    DriverUncanonicalizable,
    canonical_rows_strict,
    oracle_rows_via_pandas,
)

DATA_DIR = os.path.join(HERE, "data", "sf0.01")

# The mix: name -> why it is in it. A fixed list, not queries() order,
# because the registry reorders itself from correctness history.
QUERIES = {
    "ir2_hybrid_rrf": ("slices the session-shared exact-kNN table: the cold pass builds it "
                       "through operators.materialize, warm passes reuse it"),
    "uf4_grouped_map_deltas": "Arrow Python worker (grouped-map pandas UDF)",
    "wf3_running_sum": "window function with a large collect (one row per order)",
    "h9_profit": "Catalyst multi-way join and aggregation",
    "g1_pricing_summary": "scan, partial aggregation, shuffle, final aggregation",
    "p1_projection": "ORDER BY ... LIMIT over lineitem (the cache-regime seam)",
}

MIN_WARM = 2  # timed warm passes, at least
PASS_S = 4.8  # nominal warm pass on a quiet 4-core host

QUERY_LAYER_METRICS = [
    *[f"queries.{q}.build_s.cold" for q in QUERIES],
    *[f"queries.{q}.{k}.warm" for q in QUERIES
      for k in ("build_s", "collect_s", "tasks", "shuffle_write_bytes")],
    "operators.materialize.builds.cold",
    "operators.materialize.build_s.cold",
    "operators.materialize.builds.warm",
    "spark.jobs.warm",
    "spark.executor_run_s.warm",
    "spark.spill_bytes.warm",
]


# ------------------------------------------------------------ canonical form

def digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result in the correctness gate's strict
    canonical form (``tools/check_correctness.py``): columns sorted by name,
    cells stringified without float re-rounding, rows sorted."""
    body = canonical_rows_strict(cols, rows)
    payload = json.dumps([sorted(cols), body], separators=(",", ":"))
    return hashlib.sha256(payload.encode()).hexdigest()


def check_result(name: str, cols: list[str], rows: list[tuple], oracle: dict) -> str | None:
    """None when the rows match the oracle digest, else the reason."""
    if len(rows) != oracle["rows"]:
        return f"{name}: {len(rows)} rows, oracle has {oracle['rows']}"
    if sorted(cols) != oracle["cols"]:
        return f"{name}: columns {sorted(cols)} != oracle {oracle['cols']}"
    try:
        d = digest(cols, rows)
    except DriverUncanonicalizable as e:
        return f"{name}: {e}"
    if d != oracle["digest"]:
        return f"{name}: values differ from the oracle"
    return None


def oracle_key(sql: str, data_dir: str) -> str:
    """Cache key of one oracle digest: the SQL text, the data path and the
    gate's canonical form (its source), so a change to any one recomputes it."""
    with open(GATE, "rb") as f:
        gate = hashlib.sha256(f.read()).hexdigest()
    return hashlib.sha256(f"{sql}\0{os.path.relpath(data_dir, HERE)}\0{gate}".encode()).hexdigest()


def oracle_digests(cache_path: str, names: list[str]) -> dict[str, dict]:
    """Oracle digest per query; missing ones are computed in a child process."""
    from aristoteles_spark.queries import all_oracle_sql

    sql = all_oracle_sql()
    keys = {q: oracle_key(sql[q], DATA_DIR) for q in names}
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except FileNotFoundError:
        cache = {}
    if not all(k in cache for k in keys.values()):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "oracle.py"), cache_path, DATA_DIR, *names],
            check=True, stdout=sys.stderr, timeout=600,
        )
        with open(cache_path) as f:
            cache = json.load(f)
    return {q: cache[k] for q, k in keys.items()}


# ------------------------------------------------------------------ workload

def query_mix(ctx) -> dict[str, float]:
    """One cold pass over ``QUERIES`` in a seed-shuffled order on the fresh
    session, the warm-up passes, then warm passes in the same order, as many
    as ``ctx.seconds`` sizes the run for (see ``Context``) and at least
    ``MIN_WARM``. Each query is timed from the query-function call to the
    end of ``collect()``."""
    from aristoteles_spark.operators import materialize
    from aristoteles_spark.queries import all_queries

    fns = all_queries()
    order = list(QUERIES)
    random.Random(ctx.seed).shuffle(order)
    layer: dict[str, float] = {}
    warm_totals = {"jobs": 0.0, "executor_run_s": 0.0, "spill_bytes": 0.0}
    per_q: dict[str, list[dict]] = {q: [] for q in order}
    ctx.t0 = time.perf_counter()
    pass_no = 0
    while ctx.more(pass_no, PASS_S, MIN_WARM):
        label = "warm" if ctx.is_warm(pass_no) else "cold" if pass_no == 0 else "warmup"
        built = dict(getattr(materialize, "BUILD_LOG", {}))
        for q in order:
            group = f"op-{len(ctx.ops)}"
            if ctx.probe:
                ctx.probe.group(group)
            failure = None
            rows, cols = [], []
            with ctx.tracer.span("op"):
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span(f"queries.{q}.build"):
                        df = fns[q](ctx.spark, DATA_DIR)
                    t1 = time.perf_counter()
                    with ctx.tracer.span(f"queries.{q}.collect"):
                        rows = df.collect()
                    cols = df.columns
                except Exception as e:  # a failed query is counted, not fatal
                    failure = f"{q}: raised {type(e).__name__}: {str(e)[:300]}"
                    t1 = time.perf_counter()
                t2 = time.perf_counter()
            if ctx.probe:
                ctx.probe.clear()
            if failure is None:
                failure = check_result(q, cols, [tuple(r) for r in rows], ctx.oracle[q])
            ctx.record(f"query_mix {q} {label}", pass_no, t2 - t0, len(rows), failure, group=group,
                       key=q)
            if ctx.probe:
                spark = ctx.probe.totals(group)
                per_q[q].append({"build_s": t1 - t0, "collect_s": t2 - t1, **spark})
                if label == "warm":
                    for k in warm_totals:
                        warm_totals[k] += spark[k]
        if ctx.probe and label != "warmup":
            now = getattr(materialize, "BUILD_LOG", {})
            grown = {k: v - built.get(k, 0.0) for k, v in now.items() if v != built.get(k)}
            layer[f"operators.materialize.builds.{label}"] = (
                layer.get(f"operators.materialize.builds.{label}", 0.0) + len(grown))
            if label == "cold":
                layer["operators.materialize.build_s.cold"] = sum(grown.values())
        pass_no += 1
    if not ctx.probe:
        return {}
    n_warm = pass_no - 1 - ctx.warmup
    layer["operators.materialize.builds.warm"] /= n_warm
    for q, runs in per_q.items():
        layer[f"queries.{q}.build_s.cold"] = runs[0]["build_s"]
        for k in ("build_s", "collect_s", "tasks", "shuffle_write_bytes"):
            layer[f"queries.{q}.{k}.warm"] = sum(r[k] for r in runs[1 + ctx.warmup:]) / n_warm
    for k, v in warm_totals.items():
        layer[f"spark.{k}.warm"] = v / n_warm
    return layer
