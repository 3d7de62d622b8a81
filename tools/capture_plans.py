"""Capture .explain("formatted") output for declared queries (guide §1).

Writes plans/<query>_<suffix>.txt for each named query; plans/ is not
committed, the executed-plan hash in BENCH_DETAIL.json is the record. Runs
under ``operators.barrier.no_barriers()`` so localCheckpoint barriers and
session shared-table memos are bypassed and the FULL strategy plan (every
Exchange / join / scan the computation would run) is visible — the same
regime tests/test_plans.py asserts on.

Usage: python tools/capture_plans.py [--out plans/] [--suffix before] q1 [q2 ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_dir = "plans/"
    suffix = "before"
    names = []
    args = iter(sys.argv[1:])
    for a in args:
        if a == "--out":
            out_dir = next(args)
        elif a == "--suffix":
            suffix = next(args)
        else:
            names.append(a)

    import __spark_entry__ as entrymod
    from aristoteles_spark.operators.barrier import no_barriers
    from aristoteles_spark.session import get_spark

    spark = get_spark("capture_plans")
    qs = entrymod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for n in names:
        if n not in qs:
            print(f"unknown query: {n}", file=sys.stderr)
            continue
        with no_barriers():
            df = qs[n](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{n}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
