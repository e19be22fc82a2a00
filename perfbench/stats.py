"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-th percentile (0 <= q <= 100)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, wanted: float = 90.0, min_beyond: int = MIN_BEYOND) -> int:
    """The highest whole percentile <= ``wanted`` with at least
    ``min_beyond`` of ``n`` samples strictly above its rank."""
    for q in range(int(wanted), 0, -1):
        if n - math.floor((n - 1) * q / 100.0) - 1 >= min_beyond:
            return q
    return 0


def median(values: list[float]) -> float:
    return statistics.median(values)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clipped(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals cut to the window [lo, hi]; empty pieces dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]
