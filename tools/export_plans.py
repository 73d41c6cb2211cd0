"""Generate docs/PLANS.md: the formatted physical plan of every benched
headline query (the shapes bench.py times), at sf0.001.

A committed, regenerable plan-audit artifact: reviewers can read scan
pushdown (PushedFilters / ReadSchema), join strategies, exchange
placement, and WholeStageCodegen spans without running Spark. Pairs
with tests/plan_fingerprints.json — the gate catches drift in operator
COUNTS; this file shows the full shapes those counts summarize.

Regenerate after an intentional plan change:
    python tools/export_plans.py
and review the diff like any other code change. Plans are STATIC
(pre-execution, like the fingerprint gate) so AQE runtime re-planning
doesn't wobble the text; size-driven choices (broadcast thresholds)
reflect sf0.001 inputs, the same caveat the fingerprint baseline has.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import TEST_SF_DIR as SF_DIR  # noqa: E402

OUT = Path(__file__).resolve().parent.parent / "docs" / "PLANS.md"


def main() -> None:
    from nhl_data_pipeline_spark.plans.registry import all_queries
    from nhl_data_pipeline_spark.session import get_spark

    spark = get_spark("export_plans", cpus=8)
    jvm = spark._jvm
    parts = [
        "# Physical plans of the benched headline queries\n",
        "Generated by `python tools/export_plans.py` at sf0.001 "
        "(static plans, pre-AQE; see the module docstring for caveats). "
        "Do not edit by hand.\n",
    ]
    for name, spec in sorted(all_queries().items()):
        if not spec.bench:
            continue
        df = spec.fn(spark, SF_DIR)
        plan = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        parts.append(f"\n## {name}\n\n```\n{plan.rstrip()}\n```\n")
        print(name, "ok")
    OUT.parent.mkdir(exist_ok=True)
    OUT.write_text("".join(parts))
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
