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
sys.path.insert(0, "/root/repo")
import bench

timings = {
    "fast_small_drift": 0.10,   # >1.3x but < 0.15s absolute: ignored
    "noted_query": 2.0,         # has a REGRESSION_NOTES measured cause
    "env_query": 1.40,          # inside the env envelope -> annotated
    "real_regression": 3.0,     # outside the envelope -> unexplained
    "steady": 1.0,              # no drift
}
prev = {
    "fast_small_drift": 0.05,
    "noted_query": 1.0,
    "env_query": 1.0,
    "real_regression": 1.0,
    "steady": 0.98,
}
bench.REGRESSION_NOTES = {"noted_query": "measured cause X"}
out = bench._classify_regressions(timings, prev, env_ratio=1.30)
print(json.dumps(out))
print(json.dumps(bench._env_ratio(2.0, 3.0, 1.0, 1.0)))
print(json.dumps(bench._env_ratio(1.0, 1.0, None, None)))
"""


def test_classifier_buckets_and_envelope():
    r = subprocess.run(
        [sys.executable, "-c", _PROG], capture_output=True, text=True
    )
    assert r.returncode == 0, r.stderr
    lines = r.stdout.strip().splitlines()
    out = json.loads(lines[-3])

    # sub-0.15s absolute drift and steady queries never flag
    assert "fast_small_drift" not in out and "steady" not in out

    # measured-cause note wins and is NOT env-attributed
    assert out["noted_query"]["note"] == "measured cause X"
    assert out["noted_query"]["env_attributed"] is False

    # envelope drift (1.4 <= 1.30 * 1.15) is annotated AND marked —
    # surfaced, not silently exonerated (ADVICE r5)
    assert out["env_query"]["env_attributed"] is True
    assert "host inflation envelope" in out["env_query"]["note"]

    # drift past the envelope stays unexplained (note None)
    assert out["real_regression"]["note"] is None
    assert out["real_regression"]["env_attributed"] is False

    # env ratio takes the WORSE of the two probes; None when no history
    assert json.loads(lines[-2]) == 3.0
    assert json.loads(lines[-1]) is None


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
