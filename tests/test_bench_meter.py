"""bench.py's _StageMeter contract.

The meter is the source of every per-query executor-CPU number bench
records, so its failure modes are pinned: with the UI off (every
non-bench session, session.py policy) it must disable itself and return
inert values — a caller must never mistake "no UI" for "zero CPU". The
enabled path is exercised end-to-end by every bench leg (cpu_detail line
+ nonzero totals asserted against wall in the committed legs), which a
unit test cannot reproduce without binding the UI port inside pytest.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench


def test_stage_meter_disabled_without_ui(spark):
    # The pytest session runs with spark.ui.enabled=false (session.py):
    # uiWebUrl is None, so the meter must report disabled and inert.
    assert spark.sparkContext.uiWebUrl is None
    m = bench._StageMeter(spark)
    assert m.enabled is False
    assert m.snap() == -1
    assert m.since(-1) is None


def test_committed_legs_carry_consistent_cpu_detail():
    """Whatever bench legs are committed under bench_logs/*/ carry an
    internally consistent cpu_detail line: the reported cpu min equals
    the min of its own reps, and the CPU MIN never exceeds the RUN MIN
    by more than the rounding slack.

    Validates every committed leg instead of hard-coding one directory
    and a count — pruning or relocating old logs must not fail the unit
    suite — and SKIPS (not fails) when no legs with CPU
    detail exist at all. On the cpu<=run bound: both are mins taken
    independently across reps, so this is min_i(cpu_i) <= min_j(run_j) *
    1.05 — valid because cpu_i <= run_i per rep (executor CPU is a
    component of run-time) implies min(cpu) <= min(run); the 1.05 covers
    the two mins landing on different reps plus ms-vs-ns rounding.
    """
    import json

    import pytest

    legs = sorted(
        (Path(__file__).resolve().parent.parent / "bench_logs").glob(
            "r*/bench_*_leg*.out"
        )
    )
    checked = 0
    for leg in legs:
        lines = leg.read_text().strip().splitlines()
        detail = [l for l in lines if l.startswith('{"probe": "cpu_detail"')]
        if not detail:
            continue
        d = json.loads(detail[-1])
        for q, v in d["cpu"].items():
            assert v == min(d["cpu_reps"][q]), (leg.name, q)
            assert 0 < v <= d["run"][q] * 1.05, (leg.name, q, v, d["run"][q])
        checked += 1
    if not checked:
        pytest.skip("no committed bench legs with cpu_detail to validate")
