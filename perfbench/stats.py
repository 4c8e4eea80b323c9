"""Summary statistics for the run's samples."""

from __future__ import annotations

import math


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = (len(xs) - 1) * p / 100
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def summary(values: list[float]) -> dict:
    """Median and sample count."""
    return {"n": len(values), "p50": percentile(values, 50)}
