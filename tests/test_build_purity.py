"""No plan builder hides a side effect on the session: building any
registry query leaves the session's SQL conf as it found it, so what a
query runs with never depends on which queries were built before it."""

from __future__ import annotations

from pyspark.sql.conf import RuntimeConfig

from nhl_data_pipeline_spark.plans.registry import all_queries
from tests.conftest import TEST_SF_DIR


def test_no_plan_builder_changes_session_conf(spark, monkeypatch):
    writes: list[tuple[str, str, object]] = []
    name = ""
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        writes.append((name, key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    before = spark.conf.getAll
    try:
        for name, spec in sorted(all_queries().items()):
            spec.fn(spark, TEST_SF_DIR)
    finally:
        spark.catalog.clearCache()
    after = spark.conf.getAll
    changed = {
        k: (before.get(k), after.get(k))
        for k in before.keys() | after.keys()
        if before.get(k) != after.get(k)
    }
    assert not writes, writes
    assert not changed, changed
