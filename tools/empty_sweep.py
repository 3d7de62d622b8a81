"""Empty-input robustness sweep: run EVERY declared query against
0-row (schema-correct) copies of the test tables and report crashes.

The contract (round 6, SURVEY 8.13 item 10): an empty input is a valid
no-op — the reference's own empty-input-skip semantics (P5) and a daily
reality at 100 TB (empty partitions, empty ingest days, quiet streams).
tests/test_empty_inputs.py pins the 25-query set the first sweep caught;
this tool re-sweeps the FULL suite so newly added operators get checked.

Run from the repo root (executor workers unpickle the package by cwd):
    python tools/empty_sweep.py           # all queries
    python tools/empty_sweep.py dd4_...   # subset
Exit code = number of crashing queries.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


def make_empty_fixture() -> str:
    import pyarrow.parquet as pq

    from aristoteles_spark.sources.parquet_source import TABLES

    d = tempfile.mkdtemp(prefix="empty_sf_")
    for t in TABLES:
        p = os.path.join(SRC, f"{t}.parquet")
        if os.path.exists(p):
            pq.write_table(
                pq.read_schema(p).empty_table(), os.path.join(d, f"{t}.parquet")
            )
    return d


def main() -> int:
    import __spark_entry__ as entrymod
    from aristoteles_spark.session import get_spark

    only = set(sys.argv[1:])
    fixture = make_empty_fixture()
    spark = get_spark("empty_sweep")
    qs = entrymod.queries()
    bad = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            rows = fn(spark, fixture).collect()
            print(f"ok    {name}: {len(rows)} rows", flush=True)
        except Exception as e:  # noqa: BLE001 — a sweep reports, never hides
            msg = str(e).split("\n")[0][:160]
            print(f"CRASH {name}: {type(e).__name__}: {msg}", flush=True)
            bad.append((name, type(e).__name__, msg))
    print(f"\nempty-input crashes: {len(bad)}")
    for b in bad:
        print("  ", b)
    return len(bad)


if __name__ == "__main__":
    sys.exit(main())
