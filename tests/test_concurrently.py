"""`util.concurrently`: the one thread pool of the package (per-table dump
writes, restore reads and restore file writes)."""

from __future__ import annotations

import threading
import time

import pytest

from replibyte_spark.util import concurrently


def test_results_keep_input_order(spark):
    # later items finish first; the results still follow the input
    out = concurrently(spark, lambda i, d: (time.sleep(d), i)[1],
                       [(i, 0.05 * (4 - i)) for i in range(5)])
    assert out == [0, 1, 2, 3, 4]


def test_single_item_runs_on_caller_thread(spark):
    assert concurrently(spark, lambda: threading.get_ident(), [()]) == \
        [threading.get_ident()]
    assert concurrently(spark, lambda: 1, []) == []


def test_threads_capped_at_default_parallelism(spark):
    cap = spark.sparkContext.defaultParallelism
    lock, running, peak = threading.Lock(), [0], [0]

    def work(i):
        with lock:
            running[0] += 1
            peak[0] = max(peak[0], running[0])
        time.sleep(0.02)
        with lock:
            running[0] -= 1
        return i

    start = threading.active_count()
    assert concurrently(spark, work, [(i,) for i in range(3 * cap)]) == \
        list(range(3 * cap))
    assert 1 < peak[0] <= cap
    assert threading.active_count() == start


def test_first_error_raised_after_all_calls_finish(spark):
    finished = []

    def work(i):
        if i == 3:
            raise ValueError("d")           # fails first in time
        time.sleep(0.1)
        if i == 1:
            raise ValueError("b")           # first in input order
        finished.append(i)

    start = threading.active_count()
    with pytest.raises(ValueError, match="b"):
        concurrently(spark, work, [(i,) for i in range(6)])
    assert sorted(finished) == [0, 2, 4, 5]
    assert threading.active_count() == start
