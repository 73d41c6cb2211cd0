"""Bucketed co-located joins: the write-once-shuffle-never pattern."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.sources.bucketed import write_bucketed
from tests.conftest import TEST_SF_DIR


def exchange_count(df) -> int:
    """Number of shuffle Exchange operators in the executed plan — the
    metric bucketing drives to zero."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    li = load_table(spark, TEST_SF_DIR, "lineitem")
    o = load_table(spark, TEST_SF_DIR, "orders").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    write_bucketed(li, "b_lineitem", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    write_bucketed(o, "b_orders", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    yield "b_lineitem", "b_orders"
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    lt, rt = bucketed_tables
    # Force the sort-merge path so the exchange comparison is apples-to-apples.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(lt).join(spark.table(rt), "l_orderkey")
        assert exchange_count(j) == 0, "bucketed join must not shuffle"

        li = load_table(spark, TEST_SF_DIR, "lineitem")
        o = load_table(spark, TEST_SF_DIR, "orders").withColumnRenamed(
            "o_orderkey", "l_orderkey"
        )
        plain = li.join(o, "l_orderkey")
        assert exchange_count(plain) >= 1, "path join should shuffle here"
        # identical results either way
        assert j.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")


def test_bucketed_aggregation_reuses_partitioning(spark, bucketed_tables):
    lt, _ = bucketed_tables
    agg = spark.table(lt).groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    assert exchange_count(agg) == 0, "groupBy on the bucket key must not shuffle"


def test_register_bucketed_table_survives_catalog_loss(spark, tmp_path):
    """The bucketing METADATA lives in the
    session catalog, so a fresh JVM reading the same parquet would
    re-shuffle. register_bucketed_table re-attaches the directory (bucket
    ids recovered from the part-*_NNNNN file names) and the exchange-free
    property must survive the round-trip — this is what lets the sf100
    counterfactual build once and measure in later cold sessions."""
    from nhl_data_pipeline_spark.sources.bucketed import register_bucketed_table

    path = str(tmp_path / "li_bkt")
    li = load_table(spark, TEST_SF_DIR, "lineitem")
    write_bucketed(
        li, "li_rt", ["l_orderkey"], 4, sort_cols=["l_orderkey"], path=path
    )
    try:
        # Simulate the fresh session: drop the catalog entry (external
        # table — data stays), then re-register from the directory alone.
        spark.sql("DROP TABLE li_rt")
        register_bucketed_table(
            spark, "li_rt", path, ["l_orderkey"], 4, ["l_orderkey"]
        )
        t = spark.table("li_rt")
        assert t.count() == li.count()
        agg = t.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
        assert exchange_count(agg) == 0, (
            "re-registered table lost its bucketing — filename bucket-id "
            "recovery failed"
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS li_rt")


@pytest.fixture()
def bucketed_layout(spark, tmp_path):
    """lineitem/orders served from a bucket-by-orderkey layout via
    catalog.BUCKETED_LAYOUT (the engine switch the sf100
    counterfactual probe flips)."""
    import nhl_data_pipeline_spark.catalog as catalog
    from nhl_data_pipeline_spark.sources.bucketed import ensure_bucketed_lake

    mapping = ensure_bucketed_lake(
        spark,
        TEST_SF_DIR,
        str(tmp_path),
        [
            ("lineitem", ["l_orderkey"], 4, ["l_orderkey"]),
            ("orders", ["o_orderkey"], 4, ["o_orderkey"]),
        ],
    )
    catalog.register_bucketed_layout(
        "lineitem", mapping["lineitem"], ["l_orderkey"]
    )
    catalog.register_bucketed_layout("orders", mapping["orders"], ["o_orderkey"])
    yield mapping
    catalog.BUCKETED_LAYOUT.clear()
    for tbl in mapping.values():
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_layout_aware_plans_drop_lineitem_exchange(spark, bucketed_layout):
    """The registered join_chain/topk plans themselves (not copies) must
    lose every hashpartitioning exchange on the bucket keys when lineitem/
    orders come from the bucketed layout — the plan-level form of the
    sf100 counterfactual (the lake plans' lineitem exchange wrote 9.7 GB
    and spilled 21.6 GB at sf100, bench_logs/r11). Broadcast is disabled
    so tiny-SF broadcast joins can't mask the comparison."""
    from nhl_data_pipeline_spark.plans.q_joins import join_chain_revenue
    from nhl_data_pipeline_spark.plans.q_windows import (
        topk_customers_by_revenue,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        for fn in (topk_customers_by_revenue, join_chain_revenue):
            plan = (
                fn(spark, TEST_SF_DIR)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "hashpartitioning(l_orderkey" not in plan, fn.__name__
            # topk's per-order agg + orders join are BOTH exchange-free;
            # join_chain's (c⋈o) side legitimately re-shuffles onto
            # o_orderkey to meet lineitem's bucketing, so only topk pins
            # the o_orderkey side too.
            if fn is topk_customers_by_revenue:
                assert "hashpartitioning(o_orderkey" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760"
        )
        # plan-shape assertions only; layout cleanup is the fixture's


def test_layout_aware_plans_results_unchanged(spark, bucketed_layout):
    """Same rows either way — the aggregates are decimal-exact, so the
    equality is bitwise, not approximate."""
    import nhl_data_pipeline_spark.catalog as catalog
    from nhl_data_pipeline_spark.plans.q_windows import (
        topk_customers_by_revenue,
    )

    got = sorted(
        map(tuple, topk_customers_by_revenue(spark, TEST_SF_DIR).collect())
    )
    catalog.BUCKETED_LAYOUT.clear()
    want = sorted(
        map(tuple, topk_customers_by_revenue(spark, TEST_SF_DIR).collect())
    )
    assert got == want


def test_recommended_buckets_rule():
    """Sizing rule: ceil(bytes / 128 MiB) rounded up to whole waves —
    the sf100 probe configuration (16.5 GB, 32 cores → 128) must fall out
    of the rule, and the count is always a wave multiple."""
    from nhl_data_pipeline_spark.sources.bucketed import recommended_buckets

    assert recommended_buckets(16_521_212_696, 32) == 128  # probed sf100
    assert recommended_buckets(1, 32) == 32  # floor: one whole wave
    assert recommended_buckets(100 << 30, 32) % 32 == 0
    # monotone in bytes, never narrower than a wave
    prev = 0
    for gb in (1, 4, 16, 64, 256):
        w = recommended_buckets(gb << 30, 32)
        assert w >= max(prev, 32)
        prev = w
    with pytest.raises(ValueError):
        recommended_buckets(0, 32)


def test_single_file_bucketed_write(spark, tmp_path):
    """single_file=True pre-repartitions by the bucket hash, so each
    bucket is exactly ONE file (sequential cold reads; trustable
    write-time sort order) — the multi-file fragmentation measured
    seek-bound at sf100 (scan_tasks × buckets files) cannot occur."""
    import os
    from collections import Counter

    path = str(tmp_path / "li_1f")
    li = load_table(spark, TEST_SF_DIR, "lineitem")
    write_bucketed(
        li,
        "li_1f",
        ["l_orderkey"],
        4,
        sort_cols=["l_orderkey"],
        path=path,
        single_file=True,
    )
    try:
        parts = [f for f in os.listdir(path) if f.startswith("part-")]
        # bucket id is the _NNNNN suffix before the extension
        buckets = Counter(f.split("_")[-1].split(".")[0] for f in parts)
        assert len(parts) == 4, parts
        assert all(v == 1 for v in buckets.values())
        # same rows as the lake, still exchange-free on the bucket key
        t = spark.table("li_1f")
        assert t.count() == li.count()
        agg = t.groupBy("l_orderkey").count()
        assert exchange_count(agg) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS li_1f")
