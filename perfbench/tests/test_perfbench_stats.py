import statistics

import pytest

import stats


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert stats.percentile(vals, 50) == 50
    assert stats.percentile(vals, 90) == 90
    assert stats.percentile(vals, 100) == 100
    assert stats.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, expected_pct",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (45, 75.0), (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expected_pct):
    vals = [float(i) for i in range(n)]
    got = stats.tail(vals)
    if expected_pct is None:
        assert got is None
        return
    pct, value = got
    assert pct == expected_pct
    assert sum(v > value for v in vals) >= 10
    # The next percentile up the ladder would leave fewer than ten beyond.
    higher = [p for p in stats.TAIL_LADDER if p > pct]
    if higher:
        assert sum(v > stats.percentile(vals, min(higher)) for v in vals) < 10


def test_tail_counts_samples_not_values():
    # Ties do not create samples: 30 equal values still allow only p50.
    assert stats.tail([5.0] * 30) == (50.0, 5.0)


def test_summary_uses_statistics_quantiles():
    vals = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6, 5.3, 5.8, 9.7]
    s = stats.summary(vals)
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert s["n"] == 10 and s["median"] == q2
    assert (s["q1"], s["q3"]) == (q1, q3)
    assert s["spread"] == pytest.approx((q3 - q1) / q2)
    assert stats.summary([]) == {"n": 0}
    assert stats.summary([2.0])["spread"] == 0.0
