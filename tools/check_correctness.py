"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` at sf0.01 and
compares against ``oracle_sql()`` via duckdb: row count, column-name set,
and an order-insensitive canonical value comparison (columns sorted by
name). Strict: floats must match to 9 significant digits.

``--strict`` additionally emulates the DRIVER's canonicalization path,
which round-1 showed differs from ours: the driver pulls the duckdb side
through a pandas/arrow frame (DECIMAL -> float64, HUGEINT -> float64)
while Spark rows keep ``decimal.Decimal`` objects, then compares string
forms without float re-rounding. So a query whose final schema still
contains DECIMAL (or whose oracle sums an INT into HUGEINT) hash-fails
at the driver even when values are numerically identical ("1400362.00"
vs "1400362.0"). Strict mode reproduces exactly that: duckdb via
``.df()``, no 9-sig-digit rounding, Decimals stringified as-is. Every
query must be strict-green before submission.

Usage: python tools/check_correctness.py [--strict] [query_name ...]
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if v is None:
        return "NULL"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return f"{float(v):.9g}"
    except ImportError:
        pass
    return str(v)


def canonical_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def canon_strict(v):
    """Driver-faithful stringification: no float rounding, Decimals kept
    verbatim. Mirrors a canonicalizer that str()s each cell after pulling
    the oracle frame through pandas (so DECIMAL/HUGEINT arrive as float64
    on the oracle side only — the asymmetry this mode exists to catch)."""
    import decimal

    try:
        import numpy as np
        import pandas as pd
    except ImportError:  # pragma: no cover
        np = pd = None
    if v is None:
        return "NULL"
    if pd is not None and not isinstance(v, (list, tuple)) and pd.isna(v) is True:
        return "NULL"
    if np is not None and isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if pd is not None and isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        v = v.replace(tzinfo=None)
        # pandas widens DATE columns to midnight datetimes; the driver
        # accepted date-typed results in round 1 (w1), so fold midnight
        # back to the date form on both sides rather than flag it.
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if np is not None and isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple, dict)):
        # The driver's canonicalizer (pandas lexsort over all columns)
        # raises ``TypeError: unhashable type: 'list'`` on container
        # cells (round-3 ar2/g8 reds). Strict mode must reproduce that
        # failure, not paper over it with a serialization the driver
        # doesn't have. Queries with container outputs get a terminal
        # to_json at the registry (queries/__init__._stable_output_types).
        raise DriverUncanonicalizable(
            f"container value {type(v).__name__} not driver-canonicalizable"
        )
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


class DriverUncanonicalizable(TypeError):
    """A cell value the driver's pandas-lexsort canonicalizer rejects."""


def canonical_rows_strict(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_strict(r[i]) for i in order) for r in rows)


def oracle_rows_via_pandas(res):
    """Fetch a duckdb result the way the driver does — through pandas —
    so DECIMAL and HUGEINT columns degrade to float64 before comparison."""
    df = res.df()
    cols = list(df.columns)
    rows = [tuple(r) for r in df.itertuples(index=False, name=None)]
    return cols, rows


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from aristoteles_spark.session import get_spark

    argv = sys.argv[1:]
    strict = "--strict" in argv
    if "--window" in argv:
        # print which queries sit in the driver's first-N check window
        # under the current CORRECTNESS_r* history (see
        # queries/__init__.py:_history_order), then exit — a rotation
        # sanity check for round planning; no Spark session needed.
        import __spark_entry__ as em

        names = list(em.queries())
        n = 50
        for i, name in enumerate(names):
            mark = "IN-WINDOW " if i < n else "          "
            print(f"{mark}{i + 1:3d}  {name}")
        print(f"\n{len(names)} declared; first {n} = driver window")
        return
    only = set(a for a in argv if not a.startswith("--"))
    spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"WEAK {name}: rows={len(s_rows)} (no oracle declared)  [{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            res = con.execute(oracles[name])
            if strict:
                o_cols, o_rows = oracle_rows_via_pandas(res)
            else:
                o_cols = [d[0] for d in res.description]
                o_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        problems = []
        if sorted(s_cols) != sorted(o_cols):
            problems.append(f"schema {sorted(s_cols)} vs {sorted(o_cols)}")
        if len(s_rows) != len(o_rows):
            problems.append(f"rowcount {len(s_rows)} vs {len(o_rows)}")
        if not problems:
            try:
                if strict:
                    sc = canonical_rows_strict(s_cols, s_rows)
                    oc = canonical_rows_strict(o_cols, o_rows)
                else:
                    sc = canonical_rows(s_cols, s_rows)
                    oc = canonical_rows(o_cols, o_rows)
            except DriverUncanonicalizable as e:
                problems.append(str(e))
            else:
                diffs = [(a, b) for a, b in zip(sc, oc) if a != b]
                if diffs:
                    problems.append(f"values: first diff {diffs[0]}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}  [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            # a 0-row match is vacuous — both engines agree on nothing.
            # Flag it so testdata regeneration can't silently hollow out
            # a query (its literals may no longer select anything).
            empty = " (WARN: empty result — vacuous match)" if not s_rows else ""
            print(f"PASS {name}: {len(s_rows)} rows{empty}  [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_weak} weak (rows-only), {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
