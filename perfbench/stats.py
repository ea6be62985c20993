"""Small order statistics shared by the runner and the trace reader."""

from __future__ import annotations

import statistics
from collections.abc import Sequence


def median(values: Sequence[float]) -> float:
    """Median; the mean of the two middle values at even counts."""
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them -- the run-to-run spread a bound is compared with."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = median(values)
    return (q3 - q1) / med if med else 0.0


def max_over_median(values: Sequence[float]) -> float:
    """Largest value over the median; 1.0 for a perfectly even set."""
    if not values:
        return 0.0
    med = median(values)
    return max(values) / med if med else 0.0
