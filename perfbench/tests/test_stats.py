"""The reporting rule: a percentile needs at least ten samples beyond it."""

from stats import MIN_BEYOND, median, percentile, quartile_spread


def test_median_needs_no_tail():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert percentile([5.0] * 20, 50) == 5.0


def test_p90_needs_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 100)]  # 99 samples: only 9 beyond p90
    assert percentile(xs, 90) is None
    xs.append(100.0)                         # 100 samples: 10 beyond p90
    assert percentile(xs, 90) == 90.0
    assert sum(x > 90.0 for x in xs) == MIN_BEYOND


def test_p99_needs_a_thousand_samples():
    assert percentile([1.0] * 999, 99) is None
    assert percentile([1.0] * 1000, 99) == 1.0


def test_empty_and_extreme_inputs():
    assert percentile([], 50) is None
    assert percentile([1.0] * 50, 100) is None


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    # exclusive quantiles: Q1 = 9.725, Q3 = 10.275, median = 10.0
    assert abs(quartile_spread(xs) - (10.275 - 9.725) / 10.0) < 1e-9
