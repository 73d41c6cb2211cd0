"""The engine's one sizing rule: every plan shuffles at the session's
``spark.sql.shuffle.partitions`` and AQE coalesces from there
(``session.cluster_conf``). No plan derives a width of its own: the row
plans plant no explicit repartition, and the text plans' explicit
exchanges read the session width.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import TEST_SF_DIR


@pytest.mark.parametrize("qname", ["join_chain_revenue", "composite_key_join"])
def test_fact_joins_stay_ungated_at_test_sf(spark, qname):
    """The fact joins carry no explicit width: their exchanges are the
    planner's, at the session width under AQE."""
    from nhl_data_pipeline_spark.plans.registry import all_queries

    df = all_queries()[qname].fn(spark, TEST_SF_DIR)
    p = df._jdf.queryExecution().toString()
    assert "REPARTITION_BY_NUM" not in p


def test_text_plans_repartition_at_session_width(spark):
    """dedup_ngram_jaccard's and dedup_minhash_lsh's explicit exchanges
    run at whatever ``spark.sql.shuffle.partitions`` the session holds:
    the documents repartition on doc_id under both self-join sides, and
    the jaccard sides' repartition on the shingle key. The analyzed plan
    is read, because minhash's persisted band table hides its subtree in
    the optimized one."""
    from nhl_data_pipeline_spark.plans.q_text import (
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
    )

    k = spark.sparkContext.defaultParallelism + 3
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(k))
        for fn, want_keys in (
            (dedup_ngram_jaccard, ["doc_id", "doc_id", "s", "s"]),
            (dedup_minhash_lsh, ["doc_id", "doc_id"]),
        ):
            p = fn(spark, TEST_SF_DIR)._jdf.queryExecution().analyzed()
            reps = re.findall(
                r"RepartitionByExpression \[(.*?)\], (\d+)", p.toString()
            )
            keys = sorted(re.sub(r"#\d+L?", "", key) for key, _ in reps)
            assert keys == want_keys, fn.__name__
            assert {int(w) for _, w in reps} == {k}, fn.__name__
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.catalog.clearCache()
