"""Unit tests for the benchmark's metric math.

    python -m pytest fmlbench -q
"""

import math

import pytest

from metrics import (
    driver_gap,
    geomean_of_type_medians,
    mean_concurrency,
    self_time,
    union_length,
)


def test_geomean_is_of_per_type_medians_not_a_pooled_median():
    lat = {"fast": [1.0, 1.0, 1.0, 1.0, 1.0], "slow": [100.0, 100.0, 100.0]}
    # A pooled median would read 1.0; the per-type geomean is sqrt(1*100).
    assert geomean_of_type_medians(lat) == pytest.approx(10.0)


def test_geomean_of_one_type_is_its_plain_median():
    assert geomean_of_type_medians({"q": [3.0, 1.0, 2.0, 9.0, 5.0]}) == pytest.approx(3.0)


def test_union_length_merges_overlaps_and_skips_empty():
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    assert union_length([]) == 0


def test_driver_gap_is_wall_minus_job_union_inside_the_wall():
    jobs = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]
    # wall [0, 10]: jobs cover [1,4] and [9,10] -> 4s busy, 6s gap
    assert driver_gap((0.0, 10.0), jobs) == pytest.approx(6.0)


def test_self_time_with_overlapping_children_from_a_thread_pool():
    # parent [0, 10]; two pool children overlap on [3, 5]
    children = [(2.0, 5.0), (3.0, 7.0)]
    assert self_time((0.0, 10.0), children) == pytest.approx(5.0)
    # summing child durations would wrongly give 10 - 7 = 3
    assert 10 - sum(e - s for s, e in children) == pytest.approx(3.0)


def test_self_time_clips_children_to_the_parent():
    assert self_time((0.0, 4.0), [(-1.0, 1.0), (3.0, 8.0)]) == pytest.approx(2.0)


def test_mean_concurrency():
    assert mean_concurrency([(0, 4), (0, 4)]) == pytest.approx(2.0)
    assert mean_concurrency([(0, 2), (2, 4)]) == pytest.approx(1.0)
    assert math.isclose(mean_concurrency([]), 0.0)
