"""Summary statistics shared by every workload.

A timing is reported as its median and the highest percentile that still
has at least ``MIN_BEYOND`` samples beyond it, with the sample count.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10
#: percentiles a tail is reported at, highest first
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    # round first: 99.9% of 10000 must be 9990, not 9991 by float error
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it, or None when even the lowest has too few."""
    for p in LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None

