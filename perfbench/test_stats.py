"""Tests of the benchmark's tail-percentile rule and failure accounting.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import pytest

from perfbench.stats import Ledger, median, tail


def test_tail_needs_eleven_samples():
    assert tail([float(x) for x in range(10)]) is None
    t = tail([float(x) for x in range(11)])
    assert t is not None
    assert (t.value, t.beyond, t.samples) == (0.0, 10, 11)


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = [float(x) for x in range(1, 101)]  # 1..100, shuffled order is irrelevant
    t = tail(list(reversed(xs)))
    assert t.percentile == 90.0
    assert t.value == 90.0
    assert t.beyond == sum(x > t.value for x in xs) == 10


def test_tail_at_twenty_samples_is_the_median_rank():
    xs = [float(x) for x in range(20)]
    t = tail(xs)
    assert t.percentile == 50.0
    assert t.value == 9.0
    assert sum(x > t.value for x in xs) == 10


def test_tail_percentile_rises_with_samples():
    ps = [tail([1.0] * n).percentile for n in (11, 20, 50, 100, 1000)]
    assert ps == sorted(ps)
    assert ps[-1] == 99.0


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_failed_share_counts_check_failures_and_exceptions_once():
    led = Ledger()
    ops = [led.begin() for _ in range(3)]
    led.check(ops[0], True, "fine")
    led.check(ops[1], False, "wrong answer")
    led.check(ops[1], False, "still wrong")  # same operation, counted once
    with pytest.raises(RuntimeError):
        with led.operation() as op:
            raise RuntimeError("boom")
    led.check(op, False, "no output to check")
    assert led.attempted == 4
    assert led.failed == 2
    assert led.failed_share == 0.5


def test_failed_share_of_clean_run_is_zero():
    led = Ledger()
    assert led.failed_share == 0.0
    with led.operation() as op:
        pass
    led.check(op, True, "ok")
    assert (led.attempted, led.failed, led.failed_share) == (1, 0, 0.0)


def test_unknown_operation_is_rejected():
    with pytest.raises(ValueError):
        Ledger().fail(1, "never begun")
