"""Physical-plan regression tests: the scale posture we claim must be the
plan Catalyst actually produces.

Each assertion pins a property the 100 TB design depends on — filter/column
pushdown reaching the parquet scan, small dims broadcast, the jaccard pair
join staying shuffled-hash, partial (map-side) aggregation, and no
row-at-a-time Python UDFs anywhere in the registered surface. If a refactor
regresses one of these, correctness tests stay green but the plan quietly
degrades; this module catches that.
"""

from __future__ import annotations

import pytest

from nhl_data_pipeline_spark.plans.registry import all_queries
from tests.conftest import TEST_SF_DIR


def plan_str(df, mode: str = "formatted") -> str:
    """The string df.explain(mode) prints, captured instead of printed."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def run(spark, name: str):
    return all_queries()[name].fn(spark, TEST_SF_DIR)


def test_filter_and_column_pushdown_reach_scan(spark):
    p = plan_str(run(spark, "typed_projection_filter"))
    assert "PushedFilters: [" in p
    assert "IsNotNull(o_orderstatus)" in p or "EqualTo(o_orderstatus,F)" in p
    # Column pruning: scan schema must not include unprojected columns.
    read_schema = next(s for s in p.splitlines() if "ReadSchema" in s)
    assert "o_comment" not in read_schema
    assert "o_clerk" not in read_schema


def test_small_dims_are_broadcast(spark):
    p = plan_str(run(spark, "broadcast_dim_join"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_jaccard_pair_join_is_shuffled_hash(spark):
    p = plan_str(run(spark, "dedup_ngram_jaccard"))
    assert "ShuffledHashJoin" in p
    # The exact-preserving length prefilter must sit on the join, pruning
    # pairs before the groupBy shuffle.
    assert "greatest" in p and "least" in p


def test_aggregation_is_partial_then_final(spark):
    p = plan_str(run(spark, "pricing_summary"), "simple")
    # Two HashAggregates (partial + final) around one shuffle: map-side
    # combine is on, so the shuffle carries group rows, not input rows.
    assert p.count("HashAggregate") >= 2
    # Codegen view shows the fused subtrees (formatted mode hides them
    # until AQE finalizes); the agg pipeline must be inside one.
    assert "WholeStageCodegen" in plan_str(run(spark, "pricing_summary"), "codegen")


def test_semi_and_anti_joins_stay_joins(spark):
    # The has_orders/no_orders partition keeps BOTH join types as real
    # join operators (plus the scalar broadcast nested-loop cross join),
    # and the tuple-IN latest-order filter stays a semi join.
    flags = plan_str(run(spark, "cross_anti_join_flags"))
    assert "LeftAnti" in flags
    assert "LeftSemi" in flags
    assert "BroadcastNestedLoopJoin" in flags
    assert "LeftSemi" in plan_str(run(spark, "semi_join_latest_order"))


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """Hive-layout writes must yield partition-pruned scans: the filter on
    the partition column lands in PartitionFilters (directory pruning, zero
    data files touched outside the partition), not merely PushedFilters."""
    from pyspark.sql import functions as F

    from nhl_data_pipeline_spark.catalog import load_table

    ev = load_table(spark, TEST_SF_DIR, "events")
    path = str(tmp_path / "events_by_type")
    ev.write.partitionBy("event_type").parquet(path)
    etype = ev.select("event_type").first()[0]
    back = spark.read.parquet(path).filter(F.col("event_type") == etype)
    p = plan_str(back)
    pf_line = next(s for s in p.splitlines() if "PartitionFilters" in s)
    assert "event_type" in pf_line
    assert back.count() == ev.filter(F.col("event_type") == etype).count()


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_row_at_a_time_python_udf(spark, name):
    """Python in the hot path only ever as Arrow-batched (ArrowEvalPython /
    MapInPandas / FlatMapGroupsInPandas), never per-row BatchEvalPython."""
    p = plan_str(run(spark, name), "extended")
    assert "BatchEvalPython" not in p


def test_or_like_join_decomposes_to_hash_joins(spark):
    """The OR-of-anchored-LIKE theta join must plan as a union of broadcast
    HASH joins, not a BroadcastNestedLoopJoin scoring |C|x|S| pairs — the
    end-anchored LIKE against a fixed-length suffix is an equi condition."""
    p = plan_str(run(spark, "fuzzy_or_like_join"))
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("BroadcastHashJoin") >= 2


def test_contamination_eval_side_broadcasts(spark):
    # The eval shingle set is small by construction (benchmarks vs corpus);
    # the contamination scan must be a broadcast LEFT SEMI over the train
    # shingles — no shuffle of the corpus side.
    p = plan_str(run(spark, "contamination_check"))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "SortMergeJoin" not in p


def test_sequence_packing_offsets_broadcast(spark):
    # The two-level prefix sum must broadcast the tiny chunk-offset table
    # back onto the corpus; the corpus side must not sort-merge.
    p = plan_str(run(spark, "sequence_packing"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_interval_bin_join_is_hash_equi_join(spark):
    """The registered interval join must plan as a hash equi-join on the
    bucket key (broadcast here since the interval table is tiny; shuffled
    hash at scale), never as the O(PxI) BroadcastNestedLoopJoin the raw
    range predicate would produce."""
    p = plan_str(run(spark, "interval_bin_join"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "ShuffledHashJoin" in p


def test_mixture_rates_broadcast_back(spark):
    """The budgeted-mixture sampler's O(#sources) rates table must
    broadcast onto the corpus (never sort-merge), and the corpus side
    must carry no Python stage — the keep decision is pure codegen."""
    p = plan_str(run(spark, "stratified_sample"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_line_dedup_boilerplate_set_broadcasts(spark):
    """strip_frequent_lines: the boilerplate HASH set is
    collapsed to one row and attaches via a 1-row broadcast nested-loop
    cross — the corpus never shuffles at all for the strip (no exploded
    anti-join, no reassembly aggregate); the only aggregate in the plan
    is the hash-keyed frequency pass."""
    from pyspark.sql import functions as F

    from nhl_data_pipeline_spark.operators import lines as L

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            "\n", F.lit("shared footer"), F.concat(F.lit("body "), F.col("id"))
        ).alias("text"),
    )
    p = plan_str(L.strip_frequent_lines(docs, 5))
    assert "BroadcastNestedLoopJoin" in p  # the 1-row set attach
    assert "SortMergeJoin" not in p and "LeftAnti" not in p
    # the corpus side of the strip is shuffle-free: the only exchanges
    # belong to the hash-keyed frequency aggregate (+ its 1-row collapse)
    assert "xxhash64" in p and "collect_set" in p


def test_chunking_is_a_pure_map(spark):
    """Document chunking must compile to a shuffle-free plan (generate +
    project over the scan) with no Python stage — it pipelines into
    whatever reads it at 100 TB."""
    from pyspark.sql import functions as F

    from nhl_data_pipeline_spark.catalog import load_table
    from nhl_data_pipeline_spark.operators.chunking import chunk_documents

    docs = load_table(spark, TEST_SF_DIR, "documents").select("doc_id", "text")
    p = plan_str(chunk_documents(docs, 16, 4))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Generate" in p  # the posexplode fan-out


def test_classifier_weights_broadcast(spark):
    """Quality-classifier inference: the (bucket, weight) model joins onto
    the hashed features as a broadcast — the corpus never shuffles for
    the model — and the whole path is codegen (no Python stage)."""
    from nhl_data_pipeline_spark.catalog import load_table
    from nhl_data_pipeline_spark.operators.classifier import (
        classifier_score,
        demo_weights,
    )

    docs = load_table(spark, TEST_SF_DIR, "documents").select("doc_id", "text")
    p = plan_str(classifier_score(docs, demo_weights(spark)))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_stop_shingle_hot_set_broadcasts(spark):
    """drop_stop_shingles: the hot-shingle set must anti-join as a
    broadcast (it is small by definition); the corpus-sized shingle table
    must not sort-merge for the drop."""
    from pyspark.sql import functions as F

    from nhl_data_pipeline_spark.catalog import load_table
    from nhl_data_pipeline_spark.operators.dedup import (
        drop_stop_shingles,
        exploded_distinct_shingles,
    )
    from nhl_data_pipeline_spark.operators.text import tokens

    docs = load_table(spark, TEST_SF_DIR, "documents")
    sh = exploded_distinct_shingles(docs, tokens(F.col("text")), 3)
    p = plan_str(drop_stop_shingles(sh, max_df=100))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_lm_scoring_joins_on_hashed_gram_at_model_scale(spark):
    """ngram_lm_score (self-scored): p_fixed must be computed per
    DISTINCT gram and joined back on the 8-byte xxhash64 key (not the
    gram string); the vocab scalar must broadcast, so no corpus-scale
    ctx shuffle appears."""
    from nhl_data_pipeline_spark.catalog import load_table
    from nhl_data_pipeline_spark.operators.lm import ngram_lm_score

    docs = load_table(spark, TEST_SF_DIR, "documents")
    p = plan_str(ngram_lm_score(docs))
    assert "xxhash64" in p  # hashed join key on the corpus side
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p  # v
    # the ctx equi-join must exist (model-scale) but never as a
    # BatchEvalPython stage; no Python anywhere in this plan
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bloom_prejoin_filter_is_scan_side(spark):
    """bloom_prejoin: the membership conjunction must evaluate in a
    Filter over the big-side scan (pmod/xxhash64 present), never via a
    join or Python."""
    from pyspark.sql import functions as F

    from nhl_data_pipeline_spark.catalog import load_table
    from nhl_data_pipeline_spark.operators.bloom import bloom_prejoin

    orders = load_table(spark, TEST_SF_DIR, "orders")
    cust = load_table(spark, TEST_SF_DIR, "customer").filter(
        F.col("c_nationkey") == 3
    )
    p = plan_str(bloom_prejoin(orders, "o_custkey", cust, "c_custkey"))
    assert "pmod" in p and "xxhash64" in p
    assert "Join" not in p  # apply side is join-free
    assert "BatchEvalPython" not in p


def test_aqe_switches_to_broadcast_at_runtime(spark):
    """AQE demonstration pin: a join whose small side only becomes small
    AFTER a selective filter (static file-size stats say 'big') must be
    re-planned to a broadcast join at RUNTIME. This is the engine's
    'declare the plan, let AQE pick the strategy' contract — if this
    breaks, every selective-dim join in the engine silently degrades to
    a shuffle."""
    from pyspark.sql import functions as F

    from nhl_data_pipeline_spark.catalog import load_table

    # Disable the STATIC broadcast threshold so the initial plan is a
    # shuffle join; only AQE's runtime threshold (set explicitly) can
    # promote it — which it must, once the filter's true output size is
    # observed at the shuffle boundary.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", str(10 << 20)
    )
    try:
        orders = load_table(spark, TEST_SF_DIR, "orders")
        tiny = load_table(spark, TEST_SF_DIR, "customer").filter(
            F.col("c_custkey") % 97 == 0  # ~1% of rows, unknown statically
        )
        joined = orders.join(tiny, orders.o_custkey == tiny.c_custkey)
        static = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in static  # static planner: shuffle
        joined.collect()  # executes THIS Dataset's queryExecution
        p = joined._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan isFinalPlan=true" in p
        assert "BroadcastHashJoin" in p  # AQE promoted it at runtime
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
