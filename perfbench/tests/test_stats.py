"""The benchmark's statistics: no Spark needed."""

import statistics

import pytest

from perfbench import stats


def test_samples_needed_leaves_ten_beyond():
    assert stats.samples_needed(90) == 100
    assert stats.samples_needed(75) == 40
    assert stats.samples_needed(50) == 20
    assert stats.samples_needed(99) == 1000
    with pytest.raises(ValueError):
        stats.samples_needed(100)


def test_tail_requires_ten_samples_beyond():
    xs = list(range(1, 100))  # 99 samples: p90 would leave fewer than 10 beyond
    with pytest.raises(stats.InsufficientSamples):
        stats.tail(xs, 90)
    xs = list(range(1, 101))
    value, n = stats.tail(xs, 90)
    assert n == 100
    assert sum(x > value for x in xs) == 10
    value, n = stats.tail(xs[:40], 75)
    assert n == 40 and sum(x > value for x in xs[:40]) == 10


def test_tail_ignores_sample_order():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0] * 20
    assert stats.tail(xs, 90) == stats.tail(sorted(xs), 90)


def test_quantile_interpolates_between_ranks():
    assert stats.quantile([1, 2, 3, 4], 0.5) == 2.5
    assert stats.quantile([10], 0.9) == 10
    assert stats.median([3, 1, 2]) == 2
    with pytest.raises(stats.InsufficientSamples):
        stats.median([])


def test_quartiles_and_spread_match_statistics_module():
    runs = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 9.5, 10.0]
    q1, q2, q3 = stats.quartiles(runs)
    assert (q1, q2, q3) == tuple(statistics.quantiles(runs, n=4))
    assert q2 == statistics.median(runs)
    assert stats.spread(runs) == pytest.approx((q3 - q1) / q2)
    assert stats.spread([5.0] * 10) == 0.0


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 6.0),
             _span(3, 1, 1.5, 2.5)]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(7.0)  # 10 - (2 + 1): grandchildren are not subtracted twice
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once_and_clips():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 6.0), _span(2, 0, 4.0, 8.0),
             _span(3, 0, 9.0, 12.0)]  # ends after its parent
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 6.0 - 1.0)
    assert all(v >= 0 for v in st.values())
