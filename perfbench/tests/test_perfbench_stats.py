import pytest

import stats


def test_tail_leaves_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = stats.tail(values)
    assert value == 90.0  # 91..100 lie beyond it
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100 * 89 / 99)


def test_tail_with_exactly_eleven_samples_is_the_minimum_order_statistic_allowed():
    values = [float(i) for i in range(11)]
    # position n-1-10 = 0 is below the median, so the median is reported
    assert stats.tail(values) == (5.0, 50.0)


def test_tail_is_the_median_below_twenty_one_samples():
    values = [3.0, 1.0, 2.0]
    assert stats.tail(values) == (2.0, 50.0)
    v, pct = stats.tail([float(i) for i in range(21)])
    assert (v, pct) == (10.0, 50.0)


def test_tail_order_independent():
    values = [5.0, 1.0, 9.0] * 20
    assert stats.tail(values) == stats.tail(sorted(values))


def test_summary_reports_sample_count():
    s = stats.summary([float(i) for i in range(40)])
    assert s["n"] == 40 and s["p50"] == 19.5 and s["tail"] == 29.0
    assert s["tail_pct"] == pytest.approx(100 * 29 / 39)


def test_no_samples_is_an_error():
    with pytest.raises(ValueError):
        stats.tail([])
