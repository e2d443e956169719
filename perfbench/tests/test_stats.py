import pytest

import stats


def test_tail_needs_ten_samples_beyond():
    assert stats.tail(list(range(10))) is None
    # 11 samples: the only percentile with 10 above it is below the median
    assert stats.tail(list(range(11))) is None


def test_tail_picks_highest_percentile_with_ten_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    p, v = stats.tail(values)
    assert p == 90 and v == 90.0
    assert sum(x > v for x in values) == 10


@pytest.mark.parametrize("n", [20, 21, 37, 64, 250])
def test_tail_leaves_at_least_ten_beyond(n):
    values = [float(i) for i in range(n)]
    p, v = stats.tail(values)
    assert sum(x > v for x in values) >= 10
    assert p >= 50
    # one percentile more would leave fewer than ten beyond
    rank = -(-(p + 1) * n // 100)
    assert n - rank < 10


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0] * 10
    assert stats.tail(values) == stats.tail(sorted(values))
