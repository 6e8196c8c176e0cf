"""Tracked DataFrame caching (ADVICE r8: the two-phase rank/quantile
operators cache small intermediates that were never unpersisted, so a
long-lived session running the whole registry accumulates storage
memory until LRU eviction).

Operators that cache a bounded intermediate register it here instead
of calling ``.cache()`` directly; harness loops (the benchmark per
op, the warehouse pipeline per run, registry sweeps) call
``unpersist_tracked()`` at their natural boundary. Between
boundaries the cache behaves exactly as before — the registry holds
plain references, and unpersisting an already-evicted or reused
frame is a no-op in Spark, so releasing is always safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def tracked_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + registration for a later bulk release."""
    out = df.cache()
    _TRACKED.append(out)
    return out


def unpersist_tracked(blocking: bool = False) -> int:
    """Release every tracked cached frame (newest first). Returns the
    number released. Safe to call at any time: Spark's unpersist on a
    non-cached frame is a no-op, and a frame re-cached after release
    simply recomputes once."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking)
        except Exception:
            pass  # session already stopped — nothing to release
        n += 1
    return n
