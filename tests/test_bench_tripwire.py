"""bench.py drift-tripwire classifier: pure-function behavior pinned.

Runs in a SUBPROCESS because importing bench mutates os.environ
(SPARK_GRAFT_DRIVER_MEM etc.) — side effects the shared pytest Spark
session must not inherit.
"""

import ast
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROG = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
import bench

def detail(secs, hashes, digest):
    return {
        "queries": secs,
        "profile": {n: {"plan_hash": h} for n, h in hashes.items()},
        "source_digest": digest,
    }

prev = detail(
    {"fast_small_drift": 0.05, "steady": 0.98, "new_plan": 1.0,
     "same": 1.0, "unprofiled": 1.0},
    {"fast_small_drift": "a", "steady": "a", "new_plan": "a", "same": "a"},
    "d1",
)
now_secs = {
    "fast_small_drift": 0.10,   # >1.3x but < 0.15s absolute: ignored
    "steady": 1.0,              # no drift
    "new_plan": 2.0,
    "same": 2.0,
    "unprofiled": 2.0,          # previous detail has no profile for it
}
now_hashes = {n: "a" for n in now_secs}
now_hashes["new_plan"] = "b"
print(json.dumps(bench._classify_regressions(
    detail(now_secs, now_hashes, "d1"), prev)))
print(json.dumps(bench._classify_regressions(
    detail(now_secs, now_hashes, "d2"), prev)))
print(json.dumps(bench._classify_regressions(detail(now_secs, now_hashes, "d1"), {})))
"""


def test_classifier_labels_from_recorded_facts():
    r = subprocess.run(
        [sys.executable, "-c", _PROG, ROOT], capture_output=True, text=True
    )
    assert r.returncode == 0, r.stderr
    same_src, new_src, no_prev = map(json.loads, r.stdout.strip().splitlines()[-3:])

    # sub-0.15s absolute drift and steady queries never flag
    for out in (same_src, new_src):
        assert "fast_small_drift" not in out and "steady" not in out

    causes = {n: e["cause"] for n, e in same_src.items()}
    assert causes == {
        "new_plan": "plan_changed",
        "same": "same_program",
        "unprofiled": "no_baseline",
    }
    assert same_src["same"]["ratio"] == 2.0 and same_src["same"]["prev_sec"] == 1.0

    # same plan hash but a different source digest: the code moved
    causes = {n: e["cause"] for n, e in new_src.items()}
    assert causes == {
        "new_plan": "plan_changed",
        "same": "code_changed",
        "unprofiled": "no_baseline",
    }

    # no previous detail: nothing to compare, nothing flagged
    assert no_prev == {}


def test_bench_dict_literals_have_no_repeated_keys():
    # a repeated key in a dict literal silently keeps only the last value
    with open(os.path.join(ROOT, "bench.py")) as f:
        tree = ast.parse(f.read())
    repeated = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Dict):
            continue
        seen = set()
        for k in node.keys:
            if k is None:  # ** unpacking
                continue
            dumped = ast.dump(k)
            if dumped in seen:
                repeated.append((k.lineno, ast.unparse(k)))
            seen.add(dumped)
    assert not repeated, f"repeated dict keys in bench.py: {repeated}"
