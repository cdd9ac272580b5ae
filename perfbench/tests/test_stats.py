"""Percentile, sample-count and op-counter rules of the benchmark."""

import pytest

from perfbench.stats import OpCounter, geomean, percentile, weighted_percentile


def test_percentile_interpolates_like_numpy_linear():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 90) == pytest.approx(3.7)
    assert percentile([7.0], 90) == 7.0


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_weighted_percentile_counts_events_not_batches():
    # one batch of 9 events at 1 s, one batch of 1 event at 10 s
    pairs = [(1.0, 9), (10.0, 1)]
    assert weighted_percentile(pairs, 50) == 1.0
    assert weighted_percentile(pairs, 90) == 1.0
    assert weighted_percentile(pairs, 91) == 10.0
    with pytest.raises(ValueError):
        weighted_percentile([], 50)


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_op_counter_keeps_failures_in_the_denominator():
    ops = OpCounter()
    for _ in range(3):
        ops.ok()
    ops.fail("q1: boom")
    assert (ops.attempted, ops.failed) == (4, 1)
    assert ops.error_rate == 0.25
    assert ops.errors == ["q1: boom"]


def test_op_counter_checks_add_only_failures():
    ops = OpCounter()
    ops.ok()
    assert ops.check(True, "state matches")
    assert (ops.attempted, ops.failed) == (1, 0)
    assert not ops.check(False, "state matches")
    assert (ops.attempted, ops.failed) == (2, 1)
    assert ops.errors == ["check failed: state matches"]
    assert OpCounter().error_rate == 0.0
