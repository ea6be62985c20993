"""The benchmark's own statistics."""

from __future__ import annotations

import statistics

import pytest

from perfbench.stats import max_over_median, median, quartile_spread


def test_median_averages_the_middle_pair():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.5, 10.5, 12.0, 10.2, 9.8, 10.1, 10.9, 10.4]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / statistics.median(values))
    assert quartile_spread([5.0]) == 0.0
    assert quartile_spread([2.0, 2.0, 2.0, 2.0]) == 0.0


def test_max_over_median():
    assert max_over_median([1.0, 1.0, 1.0]) == 1.0
    assert max_over_median([1.0, 2.0, 6.0]) == 3.0
    assert max_over_median([]) == 0.0
