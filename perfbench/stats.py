"""Order statistics used by every workload."""

from __future__ import annotations

import math
from typing import Sequence

#: a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ``TAIL_BEYOND`` of ``n``
    distinct samples beyond it, never below the median: with fewer than
    ``2 * TAIL_BEYOND`` samples no percentile above the median qualifies,
    and the tail is reported as the median."""
    if n <= 0:
        raise ValueError("no samples")
    for p in range(99, 50, -1):
        # samples beyond the p-th percentile: those ranked above its
        # interpolation point (see ``percentile``)
        if n - 1 - math.floor((n - 1) * p / 100.0) >= TAIL_BEYOND:
            return p
    return 50


def beyond(values: Sequence[float], p: float) -> int:
    """How many samples lie strictly beyond the ``p``-th percentile."""
    cut = percentile(values, p)
    return sum(1 for v in values if v > cut)
