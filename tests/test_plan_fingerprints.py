"""Plan-fingerprint regression gate: the multiset of scale-relevant
operators (exchanges, join strategies, Python evals) in every registered
query's static physical plan must match the committed baseline.

Value-level tests can't see an extra Exchange — it's invisible at sf0.01
and a cliff at 100 TB. After an INTENTIONAL plan change, regenerate with
`python tools/plan_fingerprints.py` and review the JSON diff like code.
"""

from __future__ import annotations

import json
from pathlib import Path

from nhl_data_pipeline_spark.plans.registry import all_queries
from tests.conftest import TEST_SF_DIR

BASELINE = Path(__file__).parent / "plan_fingerprints.json"


def test_static_plans_match_committed_fingerprints(spark):
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from plan_fingerprints import fingerprint

    # Other tests in the shared session may leave frames cached; a cached
    # subtree prints as InMemoryTableScan (no Exchange below it) and
    # falsely drifts the counts. Fingerprints are defined over COLD plans.
    spark.catalog.clearCache()

    want = json.loads(BASELINE.read_text())
    drift = {}
    for name, spec in all_queries().items():
        plan = (
            spec.fn(spark, TEST_SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        got = fingerprint(plan)
        if got != want.get(name):
            drift[name] = {"want": want.get(name), "got": got}
    assert not drift, (
        f"{len(drift)} quer{'y' if len(drift) == 1 else 'ies'} changed "
        f"plan shape: {json.dumps(drift, indent=1)}\n"
        "If intentional: python tools/plan_fingerprints.py && review diff"
    )


def test_worksheet_static_plans_match_committed_fingerprints(spark):
    """Same gate for the 8 verbatim odds-worksheet statements: the
    dialect shim + model DAG must keep producing the pinned plan shapes
    (a shim regression that, say, un-broadcasts dim_team would pass the
    value-level verbatim tests — this catches it). Regenerate after an
    intentional change: python tools/worksheet_fingerprints.py."""
    import sys

    import pytest

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import worksheet_fingerprints as W
    from plan_fingerprints import fingerprint

    if not W.WORKSHEET.exists():
        pytest.skip("reference worksheet not available")

    from nhl_data_pipeline_spark.plans.dialect import (
        resolve_dbt_refs,
        spark_sql_compat,
    )

    spark.catalog.clearCache()
    W.build_models(spark)
    want = json.loads((Path(__file__).parent / "worksheet_fingerprints.json").read_text())
    drift = {}
    for i, stmt in enumerate(W.statements()):
        df = spark_sql_compat(spark, resolve_dbt_refs(stmt))
        got = fingerprint(df._jdf.queryExecution().executedPlan().toString())
        if got != want.get(f"odds_stmt_{i}"):
            drift[f"odds_stmt_{i}"] = {"want": want.get(f"odds_stmt_{i}"), "got": got}
    assert not drift, (
        f"worksheet plan drift: {json.dumps(drift, indent=1)}\n"
        "If intentional: python tools/worksheet_fingerprints.py && review diff"
    )


def test_plans_doc_covers_every_benched_query():
    """docs/PLANS.md (regenerated via tools/export_plans.py) must have a
    section per benched query — name sync only; shape drift is the
    fingerprint gate's job."""
    from nhl_data_pipeline_spark.plans.registry import all_queries

    doc = (Path(__file__).parent.parent / "docs" / "PLANS.md").read_text()
    benched = {n for n, s in all_queries().items() if s.bench}
    assert benched  # sanity
    missing = {n for n in benched if f"\n## {n}\n" not in doc}
    assert not missing, (
        f"regenerate docs/PLANS.md (python tools/export_plans.py): {missing}"
    )
