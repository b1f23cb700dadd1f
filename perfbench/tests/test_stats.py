import pytest

from stats import TAIL_BEYOND, tail


def test_tail_is_max_when_the_rank_would_fall_below_the_median():
    xs = [5.0, 1.0, 9.0, 3.0]
    assert tail(xs) == (9.0, 100.0)
    n = 2 * TAIL_BEYOND - 1
    assert tail(list(range(n))) == (n - 1, 100.0)
    assert tail(list(range(1, 2 * TAIL_BEYOND + 1))) == (TAIL_BEYOND, 50.0)


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = tail(xs)
    assert (value, pct) == (90.0, 90.0)
    assert sum(x > value for x in xs) == TAIL_BEYOND


def test_tail_rank_for_odd_sizes():
    xs = [float(i) for i in range(1, 26)]  # 25 samples
    value, pct = tail(list(reversed(xs)))
    assert value == 15.0 and pct == pytest.approx(60.0)
    assert sum(x > value for x in xs) == TAIL_BEYOND


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        tail([])
