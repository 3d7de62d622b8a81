"""Session-robustness sweep: every declared query vs its duckdb oracle
under a DIFFERENT session configuration than the engine default —
non-UTC session and process timezone and 200 shuffle partitions.

Catches results that silently depend on the session: TIMESTAMP_NTZ
columns coerced through the session zone by date_trunc/sequence, zoned
values rendered in the process zone by collect(), partition-count
dependent sampling, etc. The driver's grading session is not ours, so
every query must be invariant to these knobs. The session is otherwise
``get_spark``'s (cores from the host) and the comparison is the strict
one of ``tests/test_oracle.py`` (``check_correctness.mismatch``).

Usage: python tools/tz_sweep.py [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")
TZ = os.environ.get("SPARK_GRAFT_SWEEP_TZ", "America/New_York")


def main():
    import __spark_entry__ as entrymod
    from aristoteles_spark.session import get_spark
    from check_correctness import mismatch, oracle_con

    # shift the PROCESS timezone too: collect() renders zoned timestamps
    # via the driver process zone, not the session zone
    os.environ["TZ"] = TZ
    time.tzset()

    spark = get_spark(
        "tz_sweep",
        extra_conf={
            "spark.sql.shuffle.partitions": "200",
            "spark.sql.session.timeZone": TZ,
        },
    )
    con = oracle_con(SF_DIR)
    only = set(sys.argv[1:])
    oracles = entrymod.oracle_sql()
    bad = 0
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            why = mismatch(fn(spark, SF_DIR), con.execute(oracles[name]))
        except Exception as ex:  # noqa: BLE001 — a sweep reports, never hides
            why = f"error: {str(ex)[:150]}"
        print(f"OK {name}" if why is None else f"MISMATCH {name}: {why}", flush=True)
        bad += why is not None
    print(f"\nDONE bad={bad} (tz={TZ}, shuffle.partitions=200)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
