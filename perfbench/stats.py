"""Summary statistics for the benchmark's timing samples."""

from __future__ import annotations

import statistics


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile)``. The percentile is the largest
    whole number p such that at least ``beyond`` of the sorted samples
    lie strictly after its nearest-rank position; with too few samples
    for any such p the median is returned, as percentile 50."""
    s = sorted(xs)
    n = len(s)
    for p in range(99, 49, -1):
        rank = max(1, -(-p * n // 100))  # nearest-rank position, 1-based
        if n - rank >= beyond:
            return float(s[rank - 1]), float(p)
    return median(s), 50.0
