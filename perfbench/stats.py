"""Summary statistics shared by the runner, the spread checker and tests."""

from __future__ import annotations

import math
import statistics
from fractions import Fraction


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < pct <= 100:
        raise ValueError(f"percentile out of range: {pct}")
    ordered = sorted(values)
    return ordered[max(_rank(pct, len(ordered)), 1) - 1]


def _rank(pct: float, n: int) -> int:
    # exact decimal arithmetic: 0.9 * 100 is 90.00000000000001 in floats
    return math.ceil(Fraction(str(pct)) * n / 100)


def quartile_spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, the way
    ``statistics.quantiles(values, n=4)`` places the quartiles."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf
