"""Generate tests/plan_fingerprints.json: per-query physical-plan
operator counts at sf0.001.

The fingerprint is the multiset of scale-relevant operators in the
STATIC physical plan (before execution, so AQE runtime re-planning
doesn't wobble it): exchanges, join strategies, Python eval nodes. A
drift in these counts is exactly the class of silent regression that
survives value-level correctness tests — an extra Exchange is invisible
at sf0.01 and a cliff at 100 TB.

Regenerate deliberately after an intentional plan change:
    python tools/plan_fingerprints.py
then review the diff like any other code change.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import TEST_SF_DIR as SF_DIR  # noqa: E402 — one
# source of truth: the gate evaluates plans at the same scale the
# baseline was generated at (file sizes drive broadcast decisions).
OUT = Path(__file__).resolve().parent.parent / "tests" / "plan_fingerprints.json"

OPS = (
    "Exchange",
    "BroadcastExchange",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "BatchEvalPython",
    "ArrowEvalPython",
)


def fingerprint(plan: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    for op in OPS:
        # word-boundary so Exchange doesn't double-count BroadcastExchange
        n = len(re.findall(rf"(?<![A-Za-z]){op}(?![A-Za-z])", plan))
        if n:
            counts[op] = n
    return counts


def main() -> None:
    from nhl_data_pipeline_spark.plans.registry import all_queries
    from nhl_data_pipeline_spark.session import get_spark

    spark = get_spark("plan_fingerprints", cpus=8)
    out: dict[str, dict[str, int]] = {}
    for name, spec in all_queries().items():
        df = spec.fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = fingerprint(plan)
        print(name, out[name])
    OUT.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
