"""Smoke test of the benchmark itself: tiny inputs, every metric emitted.

    python3 -m pytest perfbench/test_smoke.py -q

Each case is one ``run.py --smoke`` process (about 55 s on 4 cores,
most of it the JVM's cold start). The traced case checks the per-layer
set, the untraced case the end-to-end set; both check the workload's full
detail-line figures and a zero error rate.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import BENCH_QUERIES, END_TO_END, per_layer_names  # noqa: E402


def _bench_json() -> dict:
    return json.loads((HERE.parent / "BENCHMARK.json").read_text())


def test_benchmark_json_matches_emitted_names():
    sys.path.insert(0, str(HERE.parent))
    from nhl_data_pipeline_spark.plans.registry import all_queries

    bench = sorted(n for n, s in all_queries().items() if s.bench)
    assert list(BENCH_QUERIES) == bench
    spec = _bench_json()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == per_layer_names()


@pytest.mark.parametrize(
    "workload,trace", [("query_mix", 1), ("nhl_daily", 0)]
)
def test_smoke(workload: str, trace: int):
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = per_layer_names() if trace else END_TO_END
    assert [(n, res["metrics"][n]["unit"]) for n, _ in names] == list(names)
