"""The percentile and sample-count rule behind every reported timing."""

import random

import numpy as np
import pytest

from stats import MIN_BEYOND, percentile, quartile_spread, samples_beyond, supports_tail


@pytest.mark.parametrize("n", [1, 2, 7, 48, 101])
@pytest.mark.parametrize("p", [0, 25, 50, 80, 99, 100])
def test_percentile_matches_numpy_linear_rule(n, p):
    xs = [random.Random(n).uniform(0, 1000) for _ in range(n)]
    assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)), rel=1e-12)


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


@pytest.mark.parametrize("n", [1, 10, 11, 46, 47, 48, 60, 200])
@pytest.mark.parametrize("p", [50, 75, 80, 90, 95])
def test_samples_beyond_counts_values_above_the_percentile(n, p):
    xs = random.Random(7).sample(range(10_000), n)  # distinct values
    cut = percentile(xs, p)
    assert samples_beyond(n, p) == sum(x > cut for x in xs)


def test_tail_needs_ten_samples_beyond():
    # the open-loop workload's p85 over 80 files has twelve beyond
    assert samples_beyond(80, 85) == 12 and supports_tail(80, 85)
    assert samples_beyond(48, 80) == MIN_BEYOND and supports_tail(48, 80)
    assert not supports_tail(46, 80)
    # a closed-loop round of sixteen queries supports no tail at all
    assert not any(supports_tail(16, p) for p in range(50, 100))


def test_quartile_spread_is_iqr_over_median():
    # statistics.quantiles(range 1..9, n=4) -> 2.5, 5, 7.5
    assert quartile_spread(range(1, 10)) == pytest.approx((7.5 - 2.5) / 5)
