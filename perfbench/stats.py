"""Small pure helpers: medians, tail percentiles, interval arithmetic."""

from __future__ import annotations

import statistics
from collections.abc import Iterable

# candidate percentiles, highest first; see high_percentile
_TAIL_PCTS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values: Iterable[float]) -> float:
    vals = list(values)
    return statistics.median(vals) if vals else 0.0


def high_percentile(values: Iterable[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    ``(pct, value)``, or None when there are fewer than 20 samples.

    The value is the nearest-rank percentile: the smallest sample with at
    least ``pct``% of the samples at or below it.
    """
    vals = sorted(values)
    n = len(vals)
    for pct in _TAIL_PCTS:
        tenths = round(pct * 10)
        rank = max(1, -(-tenths * n // 1000))  # integer ceil(pct% of n)
        if n - rank >= 10:
            return pct, vals[rank - 1]
    return None


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of ``[start, end]`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: Iterable[tuple[float, float]], lo: float,
         hi: float) -> list[tuple[float, float]]:
    """Intervals cut to ``[lo, hi]``; those outside it are dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def uncovered(lo: float, hi: float,
              intervals: Iterable[tuple[float, float]]) -> float:
    """Length of ``[lo, hi]`` not covered by any of ``intervals``: a span's
    self time when they are its children, its driver gap when they are the
    running intervals of the Spark stages inside it."""
    return (hi - lo) - union_length(clip(intervals, lo, hi))
