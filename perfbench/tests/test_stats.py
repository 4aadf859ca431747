import pytest

from stats import median, tail_percentile


def test_tail_needs_more_samples_than_the_margin():
    assert tail_percentile(range(10)) is None
    assert tail_percentile([]) is None


@pytest.mark.parametrize(
    "n, pct, rank",
    [(11, 9, 1), (24, 58, 14), (100, 90, 90), (1000, 99, 990)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct, rank):
    samples = [float(i) for i in range(1, n + 1)]
    p, value, beyond = tail_percentile(reversed(samples))
    assert (p, value, beyond) == (pct, samples[rank - 1], 10)
    # one percentile higher would leave fewer than ten samples beyond
    assert n - -(-(p + 1) * n // 100) < 10


def test_tail_margin_is_a_parameter():
    assert tail_percentile(range(1, 101), min_beyond=1) == (99, 99, 1)


def test_median_of_nothing_is_zero():
    assert median([]) == 0.0
    assert median([3, 1, 2]) == 2
