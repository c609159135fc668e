import pytest

import stats


def test_samples_beyond_percentile():
    assert stats.beyond(100, 90) == 10
    assert stats.beyond(92, 90) == 10
    assert stats.beyond(91, 90) == 9
    assert stats.beyond(101, 90) == 10
    assert stats.beyond(1000, 99) == 10


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.reportable(100, 90)
    assert not stats.reportable(91, 90)
    assert not stats.reportable(30, 75)
    assert stats.reportable(41, 75)


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 90) == pytest.approx(90.1)
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
