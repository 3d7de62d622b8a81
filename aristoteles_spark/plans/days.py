"""UTC day-span arithmetic and the completeness gate.

Pure Python (no Spark session needed) — mirrors the reference's
arrow-based day handling (aristoteles/aristoteles.py:241,244,303-306,334):
a day span is the inclusive pair [00:00:00, 23:59:59] in epoch seconds,
and a run processes every span in [first_day, target_day].
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator

from aristoteles_spark.schema import SAMPLES_PER_DAY

_UTC = dt.timezone.utc


def day_bounds(day: dt.date) -> tuple[int, int]:
    """Inclusive epoch-second bounds of one UTC day.

    Upper bound is midnight+86399 — the reference's
    ``arrow .ceil('day').int_timestamp`` (aristoteles.py:305), and both
    SQLite and Spark BETWEEN are inclusive, so a sample at 23:59:59 is in
    and the next midnight is out.
    """
    lo = int(dt.datetime(day.year, day.month, day.day, tzinfo=_UTC).timestamp())
    return lo, lo + 86399


def epoch_to_day(epoch_s: int) -> dt.date:
    return dt.datetime.fromtimestamp(epoch_s, tz=_UTC).date()


def month_floor(day: dt.date) -> dt.date:
    """floor('month') for acquisition naming (reference aristoteles.py:374)."""
    return day.replace(day=1)


def span_range(first: dt.date, last: dt.date) -> Iterator[dt.date]:
    """Every UTC day in [first, last] (reference's span_range('day', ...),
    aristoteles.py:334)."""
    d = first
    while d <= last:
        yield d
        d += dt.timedelta(days=1)


def acq_name(day: dt.date, instrument: str) -> str:
    """Monthly acquisition directory name
    ``{YYYYMM01}T000000Z_{instrument}_weather`` (reference
    aristoteles.py:372-378)."""
    m = month_floor(day)
    return f"{m.strftime('%Y%m%d')}T000000Z_{instrument}_weather"


def gate_complete(counts: dict[str, int]) -> list[str]:
    """Completeness gate: stations whose last-day sample count is not
    ``SAMPLES_PER_DAY`` (288, one every five minutes).

    The reference aborts the whole run if ANY station is incomplete
    (aristoteles.py:296-327) because wview backfills after downtime; an
    empty return means the gate passes.
    """
    return [s for s, n in counts.items() if n != SAMPLES_PER_DAY]
