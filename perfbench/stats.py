"""Pure metric arithmetic shared by the runner and its tests."""

from __future__ import annotations

import math
import statistics

#: Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else float("nan")


def tail(values: list[float], min_beyond: int = 10) -> dict | None:
    """Highest percentile of ``values`` with at least ``min_beyond``
    samples above its rank (nearest-rank definition).  Returns
    ``{"pct", "value", "n"}``, or None when no candidate qualifies."""
    n = len(values)
    ordered = sorted(values)
    for pct in TAIL_PERCENTILES:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= min_beyond:
            return {"pct": pct, "value": ordered[rank - 1], "n": n}
    return None


def fail_frac(failed: int, attempted: int) -> float:
    if attempted <= 0:
        raise ValueError("attempted must be positive")
    return failed / attempted


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the union of its children's intervals,
    each clipped to the span.  Children that run concurrently (the
    per-table writers of one flatten call) are counted once."""
    clipped = [(max(lo, start), min(hi, end)) for lo, hi in children]
    return (end - start) - union_length([c for c in clipped if c[1] > c[0]])
