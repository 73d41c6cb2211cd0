"""Size-gated persistence of multi-consumer intermediates.

probe_persist_ab (committed under bench_logs/r12/) measured the columnar
cache build+read machinery at ~10x the recompute it saves while the
corpus is small, flipping for lm's trigram table only at sf10. These
tests pin the resulting policy:

- lm: persists fire above PERSIST-gate scale (model_rows > 100_000) and
  stay out of the plan below it;
- jaccard / contamination: no InMemoryRelation at any scale (persist
  removed outright — recompute won at sf0.1, sf1 AND sf10);
- minhash: the band table persists at every scale, so building its plan
  reads no corpus statistic and launches no Spark job, even with no
  table loaded yet (schemas come from Parquet footers).

Value-parity of all touched queries is covered by test_parity.py (rows +
hash against the DuckDB oracle); these tests pin only the plan policy.
"""

from __future__ import annotations

import uuid

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.operators import lm as LM
from tests.conftest import TEST_SF_DIR


def _n_cached(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count(
        "InMemoryRelation"
    )


def test_lm_small_corpus_recomputes(spark):
    d = load_table(spark, TEST_SF_DIR, "documents")
    df = LM.ngram_lm_score(d, model_rows=5_000)
    assert _n_cached(df) == 0
    spark.catalog.clearCache()


def test_lm_large_corpus_persists(spark):
    d = load_table(spark, TEST_SF_DIR, "documents")
    df = LM.ngram_lm_score(d, model_rows=200_000)
    # tri_ref feeds the scoring side directly and tri_counts transitively
    # (model join); both register, so the plan shows >= 2 cached scans.
    assert _n_cached(df) >= 2
    spark.catalog.clearCache()


def test_jaccard_and_contamination_have_no_cache(spark):
    from nhl_data_pipeline_spark.plans.registry import all_queries

    specs = all_queries()
    for name in ("dedup_ngram_jaccard", "contamination_check"):
        df = specs[name].fn(spark, TEST_SF_DIR)
        assert _n_cached(df) == 0, name
    spark.catalog.clearCache()


def test_minhash_plan_build_runs_no_job(spark, monkeypatch):
    import weakref

    from nhl_data_pipeline_spark import catalog
    from nhl_data_pipeline_spark.plans import q_text

    monkeypatch.setattr(catalog, "_DF_CACHE", weakref.WeakKeyDictionary())
    sc = spark.sparkContext
    group = f"minhash-plan-build-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        df = q_text.dedup_minhash_lsh(spark, TEST_SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert _n_cached(df) >= 1  # the band table is persisted
    spark.catalog.clearCache()
