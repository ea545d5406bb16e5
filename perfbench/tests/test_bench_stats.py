"""The tail-percentile rule: the reported tail has at least 10 samples
beyond it, and the sample count travels with it."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402

from stats import per_op_medians, percentile, tail  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == 50.0
    assert percentile(xs, 90) == 90.0
    assert percentile(xs, 99.9) == 100.0
    assert percentile([3.0], 50) == 3.0


@pytest.mark.parametrize(
    "n, want_p",
    [(1000, 99.0), (200, 95.0), (100, 90.0), (40, 75.0), (39, 50.0), (20, 50.0)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, want_p):
    xs = [float(i) for i in range(n)]
    t = tail(xs)
    assert t["percentile"] == want_p
    assert t["n"] == n
    assert t["beyond"] == sum(1 for x in xs if x > t["value"])
    assert t["beyond"] >= 10


def test_tail_with_too_few_samples_is_the_maximum():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0, 9.0, 7.0, 8.0]
    t = tail(xs)
    assert t == {"value": 9.0, "percentile": 100.0, "n": 8, "beyond": 0}


def test_ties_never_count_as_beyond():
    # 30 equal samples and 10 larger: p75 is the tied value, with exactly
    # the 10 larger samples beyond it
    xs = [1.0] * 30 + [2.0] * 10
    t = tail(xs)
    assert (t["percentile"], t["value"], t["beyond"]) == (75.0, 1.0, 10)
    assert tail([1.0] * 50)["percentile"] == 100.0


def test_no_samples_is_an_error():
    with pytest.raises(ValueError):
        tail([])


def test_per_op_medians_take_each_op_once():
    samples = [("q1", 1.0), ("q2", 5.0), ("q1", 9.0), ("q2", 6.0), ("q1", 2.0), ("q2", 7.0), ("q3", 4.0)]
    # q1's slow repeat (9.0) does not reach its median
    assert per_op_medians(samples) == [2.0, 6.0, 4.0]
    assert per_op_medians([]) == []
