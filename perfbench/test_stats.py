"""Tests of the benchmark's pure helpers: python3 -m pytest perfbench/test_stats.py"""

import random
import statistics

import pytest

from stats import (
    percentile,
    quartile_spread,
    samples_beyond,
    self_time,
    supported_percentile,
    weight_checksum,
)


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile([7.0], 75) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_percentile_rule_needs_ten_samples_beyond():
    assert samples_beyond(40, 75) == 10
    assert samples_beyond(21, 50) == 10
    assert samples_beyond(20, 50) == 10
    assert samples_beyond(19, 50) == 9
    assert supported_percentile(5) is None
    assert supported_percentile(21) == 50
    assert supported_percentile(36) == 50
    assert supported_percentile(40) == 75
    assert supported_percentile(100) == 90
    assert supported_percentile(1001) == 99


def test_self_time_is_span_minus_children():
    assert self_time((0.0, 10.0), []) == 10.0
    assert self_time((0.0, 10.0), [(1.0, 3.0), (5.0, 6.0)]) == 7.0
    # overlapping children count once
    assert self_time((0.0, 10.0), [(1.0, 4.0), (2.0, 5.0)]) == 6.0
    # children sticking out of the parent are clipped to it
    assert self_time((0.0, 10.0), [(-5.0, 2.0), (9.0, 20.0)]) == 7.0
    # children outside the parent do not count
    assert self_time((0.0, 10.0), [(11.0, 12.0)]) == 10.0
    assert self_time((0.0, 10.0), [(0.0, 10.0)]) == 0.0


def test_checksum_is_order_independent():
    rows = [(f"c{i}", f"m{i % 7}", i * 0.37 - 5.0) for i in range(200)]
    shuffled = rows[:]
    random.Random(3).shuffle(shuffled)
    assert weight_checksum(rows) == weight_checksum(shuffled)


def test_checksum_sees_every_field():
    base = [("c1", "m1", 1.5), ("c2", "m2", -3.25)]
    ref = weight_checksum(base)
    assert weight_checksum([("c1", "m1", 1.5), ("c2", "m3", -3.25)]) != ref
    assert weight_checksum([("c1", "m1", 1.5), ("c2", "m2", -3.25 + 1e-15)]) != ref
    assert weight_checksum(base[:1]) != ref
    # a duplicated row is not cancelled out
    assert weight_checksum(base + base[:1]) != ref


def test_quartile_spread_matches_statistics():
    xs = [10.0, 11.0, 9.5, 10.5, 12.0, 9.0, 10.2, 10.1, 9.9, 10.8]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == (q3 - q1) / q2
