"""The percentile rule and the spread the bounds are checked against."""

import statistics

import pytest

from perfbench.stats import percentile, quartile_spread, samples_beyond


def test_nearest_rank_returns_a_measured_sample():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == 50.0
    assert percentile(xs, 90) == 90.0
    assert percentile([3.0, 1.0, 2.0], 90) == 3.0
    assert percentile([7.0], 90) == 7.0


def test_p90_has_ten_beyond_from_100_samples():
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(99, 90) == 9
    for n in range(1, 300):
        assert samples_beyond(n, 90) == sum(1 for i in range(1, n + 1) if i > percentile(list(range(1, n + 1)), 90))


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 100)


def test_quartile_spread_matches_statistics_quantiles():
    xs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 0.8, 1.0, 1.02, 0.98]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / med)


def test_best_of_passes():
    from perfbench.harness import best_latencies, best_pass

    # the second pass was cut short by the cap after two operations
    assert best_latencies([[1.0, 5.0, 2.0], [3.0, 4.0]]) == [1.0, 4.0, 2.0]
    passes = [
        {"ops": 3, "work": 3, "wall_s": 3.0},
        {"ops": 3, "work": 3, "wall_s": 2.0},
        {"ops": 1, "work": 1, "wall_s": 0.1},  # cut short: not a whole pass
    ]
    assert best_pass(passes)["wall_s"] == 2.0
