"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import math

MIN_BEYOND = 10  # a tail percentile needs this many samples above it


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile p (50..99) that leaves at least MIN_BEYOND
    of n samples strictly beyond its nearest-rank position; None when even
    the median does not."""
    for p in range(99, 49, -1):
        if n - math.ceil(n * p / 100) >= MIN_BEYOND:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(n*p/100))."""
    xs = sorted(values)
    return xs[max(0, math.ceil(len(xs) * p / 100) - 1)]
