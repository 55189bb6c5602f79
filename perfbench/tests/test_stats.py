import pytest

import stats


def test_tail_has_ten_samples_beyond():
    vals = list(range(1, 101))  # 1..100
    value, pct, n = stats.tail(vals)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(v > value for v in vals) == 10


def test_tail_twenty_samples_is_the_median_rank():
    value, pct, n = stats.tail([float(v) for v in range(20, 0, -1)])
    assert (value, pct, n) == (10.0, 50.0, 20)


def test_tail_eleven_samples():
    value, pct, n = stats.tail(list(range(11)))
    assert value == 0
    assert pct == pytest.approx(100 / 11)


@pytest.mark.parametrize("n", [1, 2, 10])
def test_tail_small_n_falls_back_to_max(n):
    assert stats.tail(list(range(n))) == (n - 1, 100.0, n)


def test_tail_and_median_reject_no_samples():
    with pytest.raises(ValueError):
        stats.tail([])
    with pytest.raises(ValueError):
        stats.median([])


def test_spread_uses_statistics_quantiles():
    q1, med, q3, rel = stats.spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (q1, med, q3) == (1.5, 3.0, 4.5)
    assert rel == pytest.approx(1.0)
