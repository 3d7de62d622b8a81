"""US→metric unit conversions as Catalyst column expressions.

The reference converts per-row, per-cell in a scalar Python double loop
(reference: aristoteles/aristoteles.py:414-436). Here each measure becomes
one ``F.when`` expression — vectorized by Tungsten whole-stage codegen, no
UDF, no shuffle.

The conversion reproduces the reference byte-for-byte, including its
quirks (reference aristoteles.py:418-419):

* a cell equal to exactly ``0.0`` is NOT converted ("if not data[i,j]:
  continue"), so 0 degF stays 0 rather than becoming -17.78 degC;
* NaN passes the truthiness check (``bool(nan) is True``) and converts
  to NaN — an identity in effect;
* the whole row converts only when ``usUnits`` is nonzero
  (aristoteles.py:415-416).

Conversion factors (reference aristoteles.py:421-436):
    pressure     inHg -> hPa   : x * 33.863886
    temperature  degF -> degC  : (x - 32) * 5 / 9
    speed        mph  -> km/h  : x * 1.609344
    rate/amount  in   -> mm    : x * 25.4
    percent, direction          : unit-agnostic, untouched
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

from aristoteles_spark.schema import MEASURE_TYPES

INHG_TO_HPA = 33.863886
MPH_TO_KMH = 1.609344
IN_TO_MM = 25.4

_CONVERTERS = {
    "pressure": lambda c: c * INHG_TO_HPA,
    "temperature": lambda c: (c - 32) * 5 / 9,
    "speed": lambda c: c * MPH_TO_KMH,
    "rate": lambda c: c * IN_TO_MM,
    "amount": lambda c: c * IN_TO_MM,
    "percent": None,
    "direction": None,
}


def convert_measure(name: str, type_tag: str) -> Column:
    """One measure column converted to metric, gated on the row's
    ``usUnits`` flag."""
    c = F.col(name)
    conv = _CONVERTERS[type_tag]
    if conv is None:
        return c
    # reference skips falsy cells (0.0); NULL stays NULL (sink maps to NaN)
    return F.when((F.col("usUnits") != 0) & c.isNotNull() & (c != 0.0), conv(c)).otherwise(c)


@functools.lru_cache(maxsize=None)
def conversion_exprs() -> tuple[Column, ...]:
    """All 16 measure conversion expressions, aliased to their own names.

    Built once per process, as a tuple so the shared value cannot be
    mutated. The expressions are unresolved, bound to no session, so every
    later frame (a later session in the same process too) reuses them
    instead of paying their py4j round trips again.
    """
    return tuple(convert_measure(m, tag).alias(m) for m, tag in MEASURE_TYPES.items())


def convert_dataframe(df):
    """Apply metric conversion to an archive-shaped DataFrame.

    Keeps every non-measure column as-is; one narrow projection, no shuffle.
    """
    passthrough = [c for c in df.columns if c not in MEASURE_TYPES]
    return df.select(*passthrough, *conversion_exprs())
