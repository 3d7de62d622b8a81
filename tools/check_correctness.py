"""The duckdb oracle: one canonical form and one per-query check.

Every declared query (``queries()`` in ``__spark_entry__``) has an
``oracle_sql()`` text that duckdb runs over the same parquet tables.
``mismatch`` compares the two results the way the driver's correctness
gate does, which round 1 showed differs from a numeric compare: the
driver pulls the duckdb side through a pandas/arrow frame (DECIMAL ->
float64, HUGEINT -> float64) while Spark rows keep ``decimal.Decimal``
objects, then compares string forms without float re-rounding. So a
query whose final schema still contains DECIMAL (or whose oracle sums an
INT into HUGEINT) fails at the driver even when the values are
numerically identical ("1400362.00" vs "1400362.0"). The strict form
below reproduces exactly that: duckdb via ``.df()``, no float rounding,
Decimals stringified as-is.

Callers: ``tests/test_oracle.py`` checks every declared query at sf0.01
(``SPARK_GRAFT_ORACLE_DIR`` for another scale, ``-k`` for a subset),
``tools/tz_sweep.py`` checks them under a non-UTC session, and
``perfbench/querymix.py`` digests results in the strict form. Module-level
imports stay stdlib-only: perfbench imports this module into the process
it measures.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon_strict(v):
    """Driver-faithful stringification: no float rounding, Decimals kept
    verbatim. Mirrors a canonicalizer that str()s each cell after pulling
    the oracle frame through pandas (so DECIMAL/HUGEINT arrive as float64
    on the oracle side only — the asymmetry this form exists to catch)."""
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
        # cells (round-3 ar2/g8 reds). The strict form must reproduce that
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


def oracle_con(sf_dir: str):
    """A duckdb connection with one view per test table in ``sf_dir``."""
    import duckdb

    from aristoteles_spark.sources.parquet_source import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def mismatch(sdf, oracle_result) -> str | None:
    """Why a Spark DataFrame differs from its duckdb oracle result in the
    strict form, or None when they match.

    A 0-row match counts as a mismatch: both engines agree on nothing, so
    regenerated test data could hollow a query out (its literals may no
    longer select anything) without any check noticing."""
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    o_cols, o_rows = oracle_rows_via_pandas(oracle_result)
    if sorted(s_cols) != sorted(o_cols):
        return f"columns {sorted(s_cols)} vs oracle {sorted(o_cols)}"
    if len(s_rows) != len(o_rows):
        return f"{len(s_rows)} rows vs oracle {len(o_rows)}"
    if not s_rows:
        return "0 rows on both sides: the match is vacuous"
    try:
        sc = canonical_rows_strict(s_cols, s_rows)
        oc = canonical_rows_strict(o_cols, o_rows)
    except DriverUncanonicalizable as e:
        return str(e)
    diffs = [(a, b) for a, b in zip(sc, oc) if a != b]
    if diffs:
        return f"values differ, first {diffs[0][0]} vs oracle {diffs[0][1]}"
    return None
