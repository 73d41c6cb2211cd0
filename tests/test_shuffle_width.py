"""catalog.shuffle_width_for — the size-derived shuffle-width policy.

A fixed shuffle width makes per-task hash/sort state grow linearly with
the lake (measured: ~15 GB spill per jaccard run at sf10, raw exponent
1.25 on join_chain_revenue). The helper derives width from driver-side
parquet stats; these tests pin its arithmetic, its cluster fallback, and
that the gated call sites actually plant the width in the physical plan
when (and only when) the lake is above the spill regime.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import (
    ROW_BYTES_PER_PARTITION,
    TEXT_BYTES_PER_PARTITION,
    shuffle_width_for,
)
from tests.conftest import TEST_SF_DIR


def _fake_lake(tmp_path, sizes: dict[str, int]) -> str:
    for name, n in sizes.items():
        (tmp_path / f"{name}.parquet").write_bytes(b"\0" * n)
    return str(tmp_path)


def test_width_floors_at_parallelism(spark, tmp_path):
    lake = _fake_lake(tmp_path, {"lineitem": 1024})
    par = spark.sparkContext.defaultParallelism
    assert shuffle_width_for(spark, lake, "lineitem", 8 << 20) == par


def test_width_scales_with_bytes_and_sums_tables(spark, tmp_path):
    lake = _fake_lake(
        tmp_path, {"orders": 64 << 20, "lineitem": 192 << 20}
    )
    # 256 MiB total at an 8 MiB budget -> 33 partitions (+1 ceil-ish).
    assert shuffle_width_for(
        spark, lake, ("orders", "lineitem"), 8 << 20
    ) == 33
    # Single-table form.
    assert shuffle_width_for(spark, lake, "orders", 8 << 20) == max(
        spark.sparkContext.defaultParallelism, 9
    )


def test_missing_path_falls_back_to_parallelism(spark, tmp_path):
    # Cluster paths (hdfs://, s3://) fail os.path.getsize — the plan must
    # stay valid at the session parallelism instead of raising.
    par = spark.sparkContext.defaultParallelism
    assert (
        shuffle_width_for(spark, "/nonexistent", "lineitem", 8 << 20) == par
    )
    # One present + one missing table: still the fallback (partial sums
    # would understate the lake).
    lake = _fake_lake(tmp_path, {"orders": 1 << 30})
    assert (
        shuffle_width_for(spark, lake, ("orders", "lineitem"), 8 << 20)
        == par
    )


def test_budgets_are_sane():
    # Text explodes ~30x into shingle rows, plain rows ~4x decompressed —
    # the text budget must stay well under the row budget.
    assert TEXT_BYTES_PER_PARTITION * 8 <= ROW_BYTES_PER_PARTITION


def test_text_width_wave_quantizes_past_fragmentation_gate(spark, tmp_path):
    """Past TEXT_QUANTIZE_WAVES whole waves the
    width re-derives as whole waves at the 2× stretched budget — measured
    at sf100 (bench_logs/r11): 576 = 18 waves × 1 MiB/task beats the
    unquantized 1098 with zero spill, and the spill cliff only appears at
    ~1.8 MiB/task. Below the gate the 512 KiB arithmetic is unchanged
    (sf10/sf30 fingerprint + norm stability)."""
    import nhl_data_pipeline_spark.catalog as cat

    par = spark.sparkContext.defaultParallelism

    # Below the gate: plain ceil arithmetic at the 512 KiB budget.
    below = (cat.TEXT_QUANTIZE_WAVES * par - 1) * cat.TEXT_BYTES_PER_PARTITION
    lake = _fake_lake(tmp_path, {"documents": below})
    w = shuffle_width_for(spark, lake, "documents", TEXT_BYTES_PER_PARTITION)
    assert w == below // cat.TEXT_BYTES_PER_PARTITION + 1
    assert w <= cat.TEXT_QUANTIZE_WAVES * par

    # Past the gate: whole waves, stretched budget, floored at the gate
    # itself so the width is continuous (never DROPS below the gate width).
    big = 40 * cat.TEXT_QUANTIZE_WAVES * par * cat.TEXT_BYTES_PER_PARTITION
    (tmp_path / "documents.parquet").write_bytes(b"")  # reset
    lake = _fake_lake(tmp_path, {"documents": big})
    w = shuffle_width_for(spark, lake, "documents", TEXT_BYTES_PER_PARTITION)
    assert w % par == 0  # whole waves
    assert w == max(
        cat.TEXT_QUANTIZE_WAVES,
        -(-big // (cat.TEXT_STRETCH_BYTES_PER_TASK * par)),
    ) * par
    # sf100 regression: the committed lake size must quantize to 18 waves.
    lake = _fake_lake(tmp_path, {"documents": 574_997_643})
    if par == 32:
        assert (
            shuffle_width_for(
                spark, lake, "documents", TEXT_BYTES_PER_PARTITION
            )
            == 576
        )

    # Just past the gate: floored at TEXT_QUANTIZE_WAVES waves, so the
    # quantized width is never narrower than the gate it crossed.
    edge = (cat.TEXT_QUANTIZE_WAVES * par + 2) * cat.TEXT_BYTES_PER_PARTITION
    lake = _fake_lake(tmp_path, {"documents": edge})
    w = shuffle_width_for(spark, lake, "documents", TEXT_BYTES_PER_PARTITION)
    assert w == cat.TEXT_QUANTIZE_WAVES * par


def test_quantize_stretch_is_caller_relative(spark, tmp_path):
    """A caller crossing the 16-wave gate with a budget
    LARGER than the text budget must re-derive at 2× its OWN budget, not
    at the 1 MiB text constant — the text constant would hand an 8 MiB-
    budget caller up to 8× MORE tasks than its unquantized width,
    inverting the quantization's intent. For the text budget itself the
    stretch is exactly the benched 1 MiB (2 × 512 KiB), the width the
    sf100 measurements (bench_logs/r11) ran at."""
    import nhl_data_pipeline_spark.catalog as cat

    par = spark.sparkContext.defaultParallelism
    budget = ROW_BYTES_PER_PARTITION  # 8 MiB
    big = 40 * cat.TEXT_QUANTIZE_WAVES * par * budget
    # sparse file: tens of GB of *apparent* size, zero blocks on disk
    p = tmp_path / "lineitem.parquet"
    p.touch()
    os.truncate(p, big)
    w = shuffle_width_for(spark, str(tmp_path), "lineitem", budget)
    unquantized = big // budget + 1
    assert w % par == 0
    assert w <= unquantized, "quantization must never ADD tasks"
    # 2× the caller's own budget, floored at the gate width
    assert w == max(
        cat.TEXT_QUANTIZE_WAVES, -(-big // (2 * budget * par))
    ) * par
    # text callers: stretch floor == the benched 1 MiB constant
    assert max(
        cat.TEXT_STRETCH_BYTES_PER_TASK, 2 * TEXT_BYTES_PER_PARTITION
    ) == cat.TEXT_STRETCH_BYTES_PER_TASK


def test_jaccard_pair_agg_runs_at_text_width_above_gate(spark, monkeypatch):
    """The pair-count aggregate must
    inherit the text width when the gate fires — at sf100 the session-width
    final agg held ~1.5 GB of hash state per task and spilled 48 GB memory
    / 8.7 GB disk (1078 of 3163 CPU-s). REPARTITION_BY_NUM on (doc_a,
    doc_b) ⊂ grouping keys satisfies the aggregate's ClusteredDistribution
    (no extra exchange); below the gate the plan stays byte-identical."""
    import nhl_data_pipeline_spark.catalog as cat
    from nhl_data_pipeline_spark.plans.q_text import dedup_ngram_jaccard

    par = spark.sparkContext.defaultParallelism

    # Fixture SF: width == par — the standing side repartitions on `s`
    # stay, and NOTHING is planted on the aggregate keys (the
    # fingerprint-pinned shape).
    p0 = (
        dedup_ngram_jaccard(spark, TEST_SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "RepartitionByExpression [doc_a" not in p0

    # Forced above the gate: the pair-agg repartition appears, at width.
    w = 4 * par
    monkeypatch.setattr(cat, "shuffle_width_for", lambda *a, **k: w)
    p = (
        dedup_ngram_jaccard(spark, TEST_SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    agg_rep = [
        ln
        for ln in p.splitlines()
        if "RepartitionByExpression [doc_a" in ln
    ]
    assert len(agg_rep) == 1 and f", {w}" in agg_rep[0]


def test_minhash_band_join_takes_explicit_width(spark):
    """band_pairs(width=N) must hash-partition BOTH self-join sides on the
    band keys at N — REPARTITION_BY_NUM satisfies the join distribution,
    so the plan shows the explicit width and no extra planted exchange.
    Checked on both key sets in use: MinHash's (band_idx, band_key) and
    the k-means-blocked LSH's (cluster_id, band_idx, bucket)."""
    from nhl_data_pipeline_spark.operators.dedup import band_pairs

    minhash = spark.createDataFrame(
        [(1, 1, "k"), (2, 1, "k"), (3, 2, "k"), (4, 1, "j")],
        "doc_id long, band_idx int, band_key string",
    )
    kmeans = spark.createDataFrame(
        [(10, 1, 5, 0), (11, 1, 5, 0), (12, 1, 5, 1), (13, 2, 5, 0)],
        "vec_id long, band_idx int, bucket long, cluster_id int",
    )
    cases = [
        (minhash, ["band_idx", "band_key"], "doc_id", {(1, 2)}),
        (kmeans, ["cluster_id", "band_idx", "bucket"], "vec_id", {(10, 11)}),
    ]
    for bands, keys, id_col, want in cases:
        pinned = band_pairs(bands, keys, id_col, ("a", "b"), width=57)
        p = pinned._jdf.queryExecution().optimizedPlan().toString()
        reps = re.findall(r"RepartitionByExpression \[(.*)\], (\d+)", p)
        assert [(re.sub(r"#\d+L?", "", k), w) for k, w in reps] == [
            (", ".join(keys), "57")
        ] * 2
        # Default (None) keeps the planner's own shape: no forced widths.
        plain = band_pairs(bands, keys, id_col, ("a", "b"))
        assert "REPARTITION_BY_NUM" not in plain._jdf.queryExecution().toString()
        for df in (pinned, plain):
            assert {(r["a"], r["b"]) for r in df.collect()} == want


def test_minhash_width_gate_compares_session_shuffle_width(spark, monkeypatch):
    """The minhash band join is pinned at the text width only when that
    WIDENS it past spark.sql.shuffle.partitions — the same gate as the
    jaccard pair aggregate. Under a cluster profile shuffle partitions sit
    above the core count, and a width between the two must not narrow
    the join."""
    import nhl_data_pipeline_spark.catalog as cat
    from nhl_data_pipeline_spark.plans.q_text import dedup_minhash_lsh

    par = spark.sparkContext.defaultParallelism

    def band_repartitions(width: int) -> list[str]:
        monkeypatch.setattr(cat, "shuffle_width_for", lambda *a, **k: width)
        p = (
            dedup_minhash_lsh(spark, TEST_SF_DIR)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        return [
            ln for ln in p.splitlines()
            if "RepartitionByExpression [band_idx" in ln
        ]

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(4 * par))
        # between the core count and the session width: no pin
        assert band_repartitions(2 * par) == []
        # past the session width: both join sides pinned at the width
        wide = band_repartitions(8 * par)
        assert len(wide) == 2 and all(f", {8 * par}" in ln for ln in wide)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


@pytest.mark.parametrize("qname", ["join_chain_revenue", "composite_key_join"])
def test_fact_joins_stay_ungated_at_test_sf(spark, qname):
    """At fixture SF the width gate must NOT fire (width == parallelism):
    the pinned broadcast/AQE plan shapes stay byte-identical."""
    from nhl_data_pipeline_spark.plans.registry import all_queries

    df = all_queries()[qname].fn(spark, TEST_SF_DIR)
    p = df._jdf.queryExecution().toString()
    assert "REPARTITION_BY_NUM" not in p


def test_join_chain_gate_fires_above_spill_regime(spark, tmp_path, monkeypatch):
    """In the spill regime (fact_shuffle_width returns a width) the fact
    sides must carry the explicit whole-wave repartition on their join
    keys; below it (None) the plan stays plain declarative."""
    import nhl_data_pipeline_spark.catalog as cat
    import nhl_data_pipeline_spark.plans.q_joins as qj

    w = 4 * spark.sparkContext.defaultParallelism
    monkeypatch.setattr(qj, "load_table", lambda s, d, n: _tiny(s, n))
    monkeypatch.setattr(cat, "fact_shuffle_width", lambda s, d, t: w)
    df = qj.join_chain_revenue(spark, TEST_SF_DIR)
    p = df._jdf.queryExecution().toString()
    assert p.count("REPARTITION_BY_NUM") >= 3
    assert str(w) in p


def test_fact_shuffle_width_spill_gate(spark, monkeypatch):
    """fact_shuffle_width: None (session-width + AQE fast path) until
    per-task compressed input at session width exceeds the spill budget;
    then the smallest whole-wave width targeting ~64 MiB/task."""
    import nhl_data_pipeline_spark.catalog as cat

    par = spark.sparkContext.defaultParallelism
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # every committed lake through sf30 stays on the fast path
    assert cat.fact_shuffle_width(spark, TEST_SF_DIR, "lineitem") is None
    # nonexistent path (cluster): fast path, never a driver error
    assert cat.fact_shuffle_width(spark, "/nonexistent", "x") is None

    total = parts * (256 << 20)  # 2x the 128 MiB/task spill gate
    monkeypatch.setattr(cat.os.path, "getsize", lambda p: total)
    w = cat.fact_shuffle_width(spark, TEST_SF_DIR, "lineitem")
    assert w is not None and w % par == 0  # whole waves
    assert total / w <= 128 << 20  # per-task input back under the gate


def _tiny(spark, name):
    from nhl_data_pipeline_spark.catalog import load_table

    return load_table(spark, TEST_SF_DIR, name)


def test_tune_scan_splits_whole_waves(spark, monkeypatch):
    """Scan-split policy: below the 128 MiB cap
    the computed split equals Spark's own bytes-per-core result (no-op);
    past it, the split shrinks so task count is a whole multiple of the
    session cores — no ragged tail wave of a fixed-size-cap scan."""
    import nhl_data_pipeline_spark.catalog as cat

    par = spark.sparkContext.defaultParallelism
    before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # tiny lake: openCost floor governs — conf reset to the default
        # (deterministic always-set, not left-as-was)
        cat.tune_scan_splits(spark, TEST_SF_DIR, "lineitem")
        assert (
            int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
            == 128 << 20
        )

        total = 4_956_911_616  # ~4.6 GiB, the sf30 lineitem regime
        monkeypatch.setattr(cat.os.path, "getsize", lambda p: total)
        cat.tune_scan_splits(spark, TEST_SF_DIR, "lineitem")
        split = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
        waves = -(-total // ((128 << 20) * par))
        assert waves >= 2  # the cap-binding regime is what we fabricated
        assert split == -(-total // (waves * par)) <= 128 << 20
        tasks = -(-total // split)
        assert (waves - 1) * par < tasks <= waves * par

        # below the cap: computed split == bytes-per-core (default-equal)
        small = par * (32 << 20)
        monkeypatch.setattr(cat.os.path, "getsize", lambda p: small)
        cat.tune_scan_splits(spark, TEST_SF_DIR, "lineitem")
        assert int(spark.conf.get("spark.sql.files.maxPartitionBytes")) == -(
            -small // par
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", before)


def test_tune_scan_splits_no_cross_query_leak(spark, monkeypatch):
    """Regression: a big-table query's tuned
    split must NOT leak into a later small-table query on the same
    session. tune_scan_splits is execution-time conf (Spark reads
    maxPartitionBytes when the scan RDD is built, not at DataFrame
    build), so the fix is deterministic always-set: the tiny-lake branch
    restores the default, and reset_scan_splits covers untuned queries."""
    import nhl_data_pipeline_spark.catalog as cat

    before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    par = spark.sparkContext.defaultParallelism
    try:
        # 1. big-lake query tunes: conf pinned under the default (size a
        # hair past a whole wave so the computed split shrinks below cap)
        big = 40 * par * (128 << 20) + (64 << 20)
        monkeypatch.setattr(cat.os.path, "getsize", lambda p: big)
        cat.tune_scan_splits(spark, TEST_SF_DIR, "lineitem")
        tuned = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
        assert tuned < 128 << 20

        # 2a. the next SMALL-table query that tunes gets the default back
        monkeypatch.undo()
        cat.tune_scan_splits(spark, TEST_SF_DIR, "lineitem")
        assert (
            int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
            == 128 << 20
        )

        # 2b. an UNTUNED query after a big one: the shared-session runner
        # protocol (reset between queries) restores the default split
        monkeypatch.setattr(cat.os.path, "getsize", lambda p: big)
        cat.tune_scan_splits(spark, TEST_SF_DIR, "lineitem")
        assert int(spark.conf.get("spark.sql.files.maxPartitionBytes")) < (
            128 << 20
        )
        cat.reset_scan_splits(spark)
        assert (
            int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
            == 128 << 20
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", before)
