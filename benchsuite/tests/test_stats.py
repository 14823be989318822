import math

import pytest

from benchsuite.stats import geomean, percentile, summary, supported_tail


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 1) == 1.0
    assert percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile(xs, 0)


def test_supported_tail_keeps_ten_samples_beyond():
    assert supported_tail(9) is None
    assert supported_tail(40) == 75.0  # 10 beyond p75
    assert supported_tail(100) == 90.0
    assert supported_tail(199) == 90.0
    assert supported_tail(200) == 95.0
    assert supported_tail(1000) == 99.0


def test_geomean():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([3.0]) == pytest.approx(3.0)
    # each value weighs the same relatively: 10x on one query of two
    # moves the mean by sqrt(10)
    assert geomean([1.0, 10.0]) / geomean([1.0, 1.0]) == pytest.approx(math.sqrt(10))
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_summary():
    assert summary([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0, "min": 1.0, "max": 3.0}
    assert summary([]) == {"n": 0}


def test_unit_count_depends_on_the_measuring_time_only():
    from benchsuite.workloads import unit_count

    assert unit_count(18, 7.0) == 2
    assert unit_count(18, 16.0) == 1
    assert unit_count(0, 7.0) == 1  # at least one unit
    assert unit_count(21, 7.0) == 3
