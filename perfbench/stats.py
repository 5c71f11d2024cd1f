"""Order statistics shared by the benchmark and its steadiness tool."""

from __future__ import annotations

import math
import statistics


def nearest_rank(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample value with at least
    a share ``q`` (0..1) of the sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"percentile share out of range: {q}")
    ordered = sorted(values)
    # the epsilon keeps q*n that is integral in exact arithmetic
    # (0.9 * 10) from rounding up to the next rank
    rank = max(1, math.ceil(q * len(ordered) - 1e-9))
    return ordered[rank - 1]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile) exactly as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def relative_spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    if med == 0:
        return math.inf
    return (q3 - q1) / abs(med)
