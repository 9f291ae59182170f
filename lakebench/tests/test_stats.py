"""The tail-percentile rule: the highest of p99/p90/p75/p50 that still
has at least ten samples beyond it."""

import pytest

from lakebench import stats


@pytest.mark.parametrize(
    "n, percentile",
    [(5, 50), (19, 50), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
     (999, 90), (1000, 99)],
)
def test_tail_picks_highest_supported_percentile(n, percentile):
    value, p, count = stats.tail([float(i) for i in range(n)])
    assert p == percentile and count == n
    if p > 50:
        beyond = sum(1 for i in range(n) if i > value)
        assert beyond >= stats.MIN_BEYOND


def test_tail_value_is_nearest_rank():
    values = [float(i) for i in range(1, 101)]  # 1..100
    assert stats.tail(values) == (90.0, 90, 100)
    assert stats.tail(values[:40]) == (30.0, 75, 40)


def test_tail_falls_back_to_median_on_few_samples():
    assert stats.tail([3.0, 1.0, 2.0, 10.0]) == (2.5, 50, 4)
    # 24 samples support p50 by rank but no higher percentile: the tail is
    # then the median itself, never below it
    values = [1.0] * 12 + [2.0] * 12
    assert stats.tail(values) == (stats.median(values), 50, 24) == (1.5, 50, 24)


def test_spread_and_slope():
    assert stats.spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert stats.slope([1.0, 3.0, 5.0, 7.0]) == pytest.approx(2.0)
    assert stats.slope([4.0]) == 0.0


def test_mean_of_medians_weighs_every_kind_equally():
    # two slow samples of one kind move the result as much as nine fast ones
    groups = {"fast": [1.0] * 9, "slow": [3.0, 5.0], "empty": []}
    assert stats.mean_of_medians(groups) == pytest.approx((1.0 + 4.0) / 2)
    with pytest.raises(ValueError):
        stats.mean_of_medians({"empty": []})
