"""The tail rule and the driver-side fingerprint."""

import itertools
import math

import pytest

from stats import FAILED, fingerprint_rows, tail


def test_tail_needs_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples
    value, pct, n = tail(xs)
    assert (pct, n) == (90, 100)
    assert value == 90
    assert sum(1 for x in xs if x > value) == 10


def test_tail_eleven_samples_is_the_minimum_with_ten_beyond():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0]
    value, pct, n = tail(xs)
    assert n == 11 and value == 1.0
    assert sum(1 for x in xs if x > value) == 10
    assert math.ceil(pct / 100 * n) == 1


@pytest.mark.parametrize("n", [11, 25, 57, 200, 1000])
def test_tail_is_the_highest_such_percentile(n):
    xs = [float(i) for i in range(n)]
    value, pct, _ = tail(xs)
    assert sum(1 for x in xs if x > value) >= 10
    if pct < 99:  # one percentile higher leaves fewer than ten beyond
        rank = math.ceil((pct + 1) / 100 * n)
        assert n - rank < 10


def test_tail_under_eleven_samples_reports_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)


def test_failed_ops_miss_every_limit():
    xs = [1.0] * 20 + [FAILED] * 11
    value, _, _ = tail(xs)
    assert value == FAILED


def test_fingerprint_is_order_independent():
    rows = [("a", 1, 0.5), ("b", 2, None), ("a", 1, 0.5), ("c", 3, 1.25)]
    want = fingerprint_rows(rows)
    for perm in itertools.permutations(rows):
        assert fingerprint_rows(perm) == want
    assert want[0] == 4
    assert fingerprint_rows(rows[:3]) != want
