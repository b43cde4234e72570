"""Summary statistics shared by the single-run and suite entry points."""

from __future__ import annotations

import math
import statistics

# Percentiles tried, highest first, when reporting a tail latency.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile on TAIL_LADDER that has at least
    ``min_beyond`` samples strictly beyond its nearest rank, as
    ``(percentile, value)``; None when even the median lacks them."""
    n = len(values)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            return p, percentile(values, p)
    return None


def summary(values: list[float]) -> dict:
    """Sample count, median and quartiles (``statistics.quantiles``,
    exclusive method) plus the quartile spread as a share of the median."""
    n = len(values)
    if n == 0:
        return {"n": 0}
    med = statistics.median(values)
    if n >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {
        "n": n,
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else float("nan"),
    }
