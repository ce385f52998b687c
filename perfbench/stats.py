"""Summary statistics for latency samples."""

from __future__ import annotations

import math

# Candidate tail percentiles, highest first.
TAIL_LADDER: tuple[float, ...] = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n: int) -> float | None:
    """The highest ladder percentile that leaves at least MIN_BEYOND of
    ``n`` samples beyond it, or None when no ladder level does."""
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= MIN_BEYOND:  # 99.9 is inexact in binary
            return p
    return None


def median(values: list[float]) -> float:
    return percentile(values, 50.0)
