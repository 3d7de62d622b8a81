"""Worktree A/B per-query bench: the SURVEY §8.12/§8.13-4 attribution
method as a repeatable tool.

Times a list of declared queries under two repo trees (e.g. the commit
that produced the previous BENCH_DETAIL vs HEAD) in ALTERNATING fresh
subprocess sessions (A B B A ... — the mirrored order cancels linear
host drift), N timed passes per session after a warmup pass, min per
query per session. Each session also runs two host probes of its own (a
pure-CPU codegen job and 24 tiny jobs) so host movement during the A/B
itself is visible in the record.

Usage:
    python tools/ab_bench.py TREE_A TREE_B q1,q2,... [sessions_per_tree]

Prints a per-query comparison table and writes the full record to
AB_BENCH.json in the current directory. Interpretation contract (the
round-5/6 discipline): trees equal within noise => the BENCH_DETAIL
drift was suite context or probe-invisible host steal, record these
numbers in CHANGES.md; tree B consistently slower => a real code
regression, bisect it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aristoteles_spark.session import host_driver_mem  # noqa: E402

_RUNNER = r"""
import json, os, sys, time
tree = sys.argv[1]
names = sys.argv[2].split(",")
passes = int(sys.argv[3])
sys.path.insert(0, tree)
os.chdir(tree)
import __spark_entry__ as em
from aristoteles_spark.session import get_spark

spark = get_spark("ab_bench")
sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
qs = em.queries()


def probe():
    spark.range(1_000_000_000).selectExpr("bit_xor(xxhash64(id)) AS h").collect()


def sched_probe():
    for _ in range(24):
        spark.range(1000).count()


probe()
sched_probe()
t0 = time.time(); probe(); cal = round(time.time() - t0, 3)
t0 = time.time(); sched_probe(); sched = round(time.time() - t0, 3)

for n in names:  # warmup: JIT + FS cache, matches bench.py discipline
    qs[n](spark, sf).collect()
out = {}
for _ in range(passes):
    spark._jvm.System.gc()
    for n in names:
        t0 = time.time()
        qs[n](spark, sf).collect()
        out.setdefault(n, []).append(round(time.time() - t0, 3))
print("ABRESULT " + json.dumps(
    {"timings": out, "calibration_sec": cal, "sched_calibration_sec": sched}
))
"""


def run_session(tree: str, names: list[str], passes: int) -> dict:
    env = dict(os.environ)
    # match bench.py's session shape so numbers are comparable to
    # BENCH_DETAIL (no periodic GC, big driver)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", host_driver_mem())
    env.setdefault("SPARK_GRAFT_PERIODIC_GC", "12h")
    p = subprocess.run(
        [sys.executable, "-c", _RUNNER, tree, ",".join(names), str(passes)],
        env=env,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(
        f"session in {tree} produced no result:\n{p.stdout[-2000:]}\n"
        f"{p.stderr[-2000:]}"
    )


def main() -> None:
    tree_a, tree_b = sys.argv[1], sys.argv[2]
    names = sys.argv[3].split(",")
    sessions = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    passes = int(os.environ.get("AB_PASSES", "3"))

    # mirrored order cancels a linear host-speed trend across sessions:
    # the second half is the REVERSE of the first, so each tree's mean
    # session position equals (len-1)/2 for ANY sessions count (the
    # simple A B / B A interleave only balances when sessions is even —
    # odd counts put tree B systematically later, biasing B/A under a
    # linear drift)
    first = (["A", "B"] * sessions)[:sessions]
    order = first + first[::-1]
    record = {"tree_a": tree_a, "tree_b": tree_b, "sessions": []}
    mins: dict[str, dict[str, list[float]]] = {
        n: {"A": [], "B": []} for n in names
    }
    for i, side in enumerate(order):
        tree = tree_a if side == "A" else tree_b
        res = run_session(tree, names, passes)
        record["sessions"].append({"side": side, **res})
        print(
            f"[ab] session {i + 1}/{len(order)} side={side} "
            f"cal={res['calibration_sec']} sched={res['sched_calibration_sec']} "
            + " ".join(
                f"{n}={min(ts)}" for n, ts in res["timings"].items()
            ),
            flush=True,
        )
        for n, ts in res["timings"].items():
            mins[n][side].append(min(ts))

    print(f"\n{'query':28s} {'A min':>8s} {'B min':>8s} {'B/A':>6s}  per-session mins")
    summary = {}
    for n in names:
        a, b = min(mins[n]["A"]), min(mins[n]["B"])
        summary[n] = {
            "a_min": a,
            "b_min": b,
            "ratio": round(b / a, 2) if a else None,
            "a_sessions": mins[n]["A"],
            "b_sessions": mins[n]["B"],
        }
        print(
            f"{n:28s} {a:8.3f} {b:8.3f} {b / a if a else 0:6.2f}  "
            f"A={mins[n]['A']} B={mins[n]['B']}"
        )
    record["summary"] = summary
    with open("AB_BENCH.json", "w") as f:
        json.dump(record, f, indent=1)
    print("\nwrote AB_BENCH.json")


if __name__ == "__main__":
    main()
