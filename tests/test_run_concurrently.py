"""session.run_concurrently: the one pool that overlaps the daily run's
independent Spark actions (DAG models, quality-suite models, exports)."""

from __future__ import annotations

import sys
import time

import pytest

from nhl_data_pipeline_spark.session import run_concurrently


def test_results_in_submission_order_with_inputs(spark):
    """More tasks than pool threads, later tasks finishing first, each
    task waiting on two earlier ones, under a shortened switch interval:
    results come back in submission order with every input delivered."""
    n = 64

    def task(i):
        def run(*inputs):
            time.sleep(0.001 * ((n - i) % 7))
            return i + sum(inputs)

        return run

    inputs = [tuple(j for j in (i - 1, i - 2) if j >= 0) for i in range(n)]
    want: list[int] = []
    for i in range(n):
        want.append(i + sum(want[j] for j in inputs[i]))
    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        got = run_concurrently(spark, [task(i) for i in range(n)], inputs)
    finally:
        sys.setswitchinterval(saved)
    assert got == want


def test_first_error_reraised_and_pending_cancelled(spark):
    started: list[int] = []

    def task(i):
        def run():
            started.append(i)
            if i == 1:
                raise KeyError("task 1")
            time.sleep(0.05)
            return i

        return run

    n = 4 * spark.sparkContext.defaultParallelism
    with pytest.raises(KeyError, match="task 1"):
        run_concurrently(spark, [task(i) for i in range(n)])
    assert len(started) < n


def test_inputs_must_point_backwards(spark):
    with pytest.raises(ValueError, match="earlier tasks"):
        run_concurrently(spark, [lambda: 0, lambda x: x], [(1,), (0,)])
