"""Order statistics used by the benchmark report.

Percentiles use the nearest-rank rule, so a reported value is always one
that was measured.  A tail percentile is reported only when at least
``MIN_BEYOND`` samples lie beyond it; below that it would be one of the
few slowest samples and would not repeat from run to run.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10
TAILS = (99.0, 95.0, 90.0, 75.0)  # tail percentiles tried, highest first


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of ``values``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < q <= 100:
        raise ValueError(f"percentile rank out of range: {q}")
    ordered = sorted(values)
    rank = math.ceil(q / 100 * len(ordered))
    return ordered[max(rank, 1) - 1]


def supported_tail(n: int) -> float | None:
    """The highest of ``TAILS`` with at least ``MIN_BEYOND`` of ``n``
    samples beyond it, or None when even the lowest has fewer."""
    for q in TAILS:
        if n - math.ceil(q / 100 * n) >= MIN_BEYOND:
            return q
    return None


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values: each value weighs the same in
    relative terms, so one slow query cannot dominate the figure."""
    if not values:
        raise ValueError("geometric mean of an empty sample")
    if any(v <= 0 for v in values):
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def summary(values: list[float]) -> dict:
    """Sample count, median, extremes: what a reader needs to judge a
    per-layer count or time that does not repeat exactly."""
    if not values:
        return {"n": 0}
    return {
        "n": len(values),
        "p50": percentile(values, 50),
        "min": min(values),
        "max": max(values),
    }
