import statistics

import pytest

from perfbench import stats


def test_percentile_interpolates_between_closest_ranks():
    xs = [10, 20, 30, 40]
    assert stats.percentile(xs, 0) == 10
    assert stats.percentile(xs, 100) == 40
    assert stats.percentile(xs, 50) == 25
    assert stats.percentile(xs, 99) == pytest.approx(39.7)
    assert stats.percentile([7], 99) == 7


def test_percentile_ignores_input_order_and_rejects_bad_input():
    assert stats.percentile([3, 1, 2], 50) == 2
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1], 101)


def test_median_matches_statistics_median():
    xs = [5.0, 1.0, 9.0, 2.0, 8.0, 3.0]
    assert stats.median(xs) == statistics.median(xs)


def test_rate():
    assert stats.rate(1500, 0.5) == 3000
    with pytest.raises(ValueError):
        stats.rate(10, 0)


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.0, 11.5, 10.2, 9.8]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)
    assert stats.quartile_spread([4.0] * 10) == 0.0
