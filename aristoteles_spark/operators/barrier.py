"""Stage barrier that plan checks can switch off.

``localCheckpoint`` is the production stage seam — materialize a compact
intermediate ONCE instead of re-running its subtree per consumer — but
it replaces the plan with a checkpoint scan, which blinds plan-pattern
assertions (``tests/test_plans.py``) and ``tools/scale_sweep``'s
exchange-stability check to everything upstream of the barrier (ADVICE
r4: ir2's BroadcastHashJoin assertion was being satisfied by a
different, post-barrier join). Every barrier — operator-level and
query-level alike — must therefore route through this helper, so that
inside ``no_barriers()`` it is skipped and an explain shows the strategy
plan the checkpoint materialization would actually run.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

# caches handed to a skipped barrier; None outside no_barriers()
_skipped: list[DataFrame] | None = None


def barrier_disabled() -> bool:
    return _skipped is not None


@contextmanager
def no_barriers() -> Iterator[None]:
    """Build plans to explain, not to run: inside the block every
    ``audit_barrier`` returns its frame unchanged and
    ``materialize.shared_table`` builds without memoizing. On exit the
    caches the skipped barriers would have released (dd12's and sim6's
    persisted samples, for example) are unpersisted."""
    global _skipped
    outer, _skipped = _skipped, []
    try:
        yield
    finally:
        skipped, _skipped = _skipped, outer
        for c in skipped:
            c.unpersist()


def audit_barrier(
    df: DataFrame, *caches: DataFrame, eager: bool = True
) -> DataFrame:
    """``df.localCheckpoint(eager)`` then unpersist ``caches`` — unless
    inside ``no_barriers()``, where ``df`` is returned unchanged and
    ``caches`` are released when the block exits.

    The pair/edge operators end with it: the eager checkpoint writes the
    compact result at the seam a production pipeline writes it anyway,
    and the corpus-sized intermediates that fed it are released at once.
    Without the explicit release they sit in the block manager until a
    JVM GC notices the dropped references; across a couple hundred
    queries sharing one session that accumulation pressures the shared
    scan cache (measured as the round-3 graph-family drift)."""
    if _skipped is not None:
        _skipped.extend(caches)
        return df
    out = df.localCheckpoint(eager=eager)
    for c in caches:
        c.unpersist()
    return out
