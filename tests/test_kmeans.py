"""Distributed k-means: numpy parity, determinism, label recovery, dedup."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.operators import kmeans as KM
from nhl_data_pipeline_spark.operators.similarity import cosine_allpairs_numpy
from tests.conftest import TEST_SF_DIR

K, ITERS = 10, 4


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, TEST_SF_DIR, "embeddings")


def _numpy_kmeans(ids, mat, k, n_iter):
    """Reference Lloyd's: same deterministic init, first-min tiebreak."""
    order = np.argsort(ids)
    cents = mat[order[:k]].astype(np.float64).copy()
    for _ in range(n_iter):
        d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)  # argmin takes the first minimum, like Spark
        for c in range(k):
            if (a == c).any():
                cents[c] = mat[a == c].mean(axis=0)
    d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    return d.argmin(axis=1), cents


def test_kmeans_matches_numpy_reference(spark, emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    want_assign, want_cents = _numpy_kmeans(ids, mat, K, ITERS)
    want = {int(i): int(c) for i, c in zip(ids, want_assign)}

    assigned, cents = KM.kmeans(emb, K, ITERS)
    got = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    assert got == want
    # decimal-exact means vs float64 means: equal to ~1e-12 on unit-scale data
    assert np.allclose(np.array(cents), want_cents, atol=1e-9)


def test_kmeans_partitioning_invariant(spark, emb):
    a, ca = KM.kmeans(emb, K, 2)
    b, cb = KM.kmeans(emb.repartition(13), K, 2)
    assert ca == cb  # decimal-exact update ⇒ bitwise-identical centroids
    ga = {r["vec_id"]: r["cluster_id"] for r in a.collect()}
    gb = {r["vec_id"]: r["cluster_id"] for r in b.collect()}
    assert ga == gb


def test_kmeans_objective_is_monotone(spark, emb):
    """Lloyd's invariant: total within-cluster SSE never increases across
    iterations (assign and update each only lower it). The synthetic
    embeddings have no geometric label structure (label-supervised
    centroids classify only ~37% — measured), so cluster-recovery isn't
    testable here; the objective is."""
    cents = KM.init_centroids(emb, K)
    sses = []
    for _ in range(ITERS):
        assigned = KM.assign_clusters(emb, cents)
        sses.append(assigned.agg(F.sum("sq_dist")).collect()[0][0])
        cents = KM.update_centroids(assigned, cents)
    sses.append(
        KM.assign_clusters(emb, cents).agg(F.sum("sq_dist")).collect()[0][0]
    )
    for prev, nxt in zip(sses, sses[1:]):
        assert nxt <= prev * (1 + 1e-12), sses
    assert sses[-1] < sses[0]  # it actually moved


def test_semantic_neardup_subset_of_exact_and_finds_planted(spark, emb):
    """Planted near-identical vectors are caught; every cluster-blocked
    pair is also an exact-all-pairs pair (blocking only restricts)."""
    base = emb.select("vec_id", "embedding").limit(100)
    dup = base.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.000001).cast("float")
        ).alias("embedding"),
    )
    corpus = base.unionAll(dup)

    got = {
        (r["id_a"], r["id_b"])
        for r in KM.semantic_neardup_pairs(corpus, 0.999, 5, 3).collect()
    }
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in cosine_allpairs_numpy(corpus, 0.999).collect()
    }
    assert got <= exact
    planted = {(i, i + 100000) for i in range(5)}
    assert planted <= got


def test_lsh_blocked_scale_form_subset_and_recall(spark, emb):
    """The benched kmeans×LSH scale form (r8): every pair it emits is an
    exact within-cluster pair with the SAME cosine bits (candidates are
    scored by the Arrow score_pairs numpy stage, whose dimension-ordered
    sequential accumulation is bit-identical to the JVM fold — the BLAS
    bucketize only GENERATES candidates, it never touches the emitted
    cosine), and planted
    near-identicals are always caught (near-1 cosines agree on every
    band w.h.p.). The test lake itself has NO pairs above cosine 0.6
    (max ≈ 0.6 by construction), so recall in the production ≥0.9
    regime is exercised via the planted set."""
    pairs = lambda df: {  # noqa: E731
        (r["id_a"], r["id_b"], r["cosine"]) for r in df.collect()
    }
    # Subset invariant at a low threshold: the LSH form may surface only
    # a fraction of 0.4-cosine pairs (banding is parameterized for the
    # ≥0.9 near-dup regime), but anything it emits must be an exact
    # within-cluster pair, cosine bits included.
    exact = pairs(KM.semantic_neardup_pairs(emb, 0.4, 8, n_iter=0))
    lsh = pairs(KM.semantic_neardup_pairs_lsh_blocked(emb, 0.4, 8))
    assert lsh <= exact
    # The clean lake yields zero rows in the production regime — a real
    # property of a dup-free corpus, not a degenerate plan (candidate
    # generation still scans/buckets/joins everything).
    assert pairs(KM.semantic_neardup_pairs_lsh_blocked(emb, 0.9, 8)) == set()

    # Planted near-identical vectors: cosine ≈ 1 ⇒ same cluster AND same
    # bucket in every band — the scale form must find all of them, at the
    # production threshold, among the untouched corpus.
    base = emb.select("vec_id", "embedding").limit(100)
    dup = base.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.000001).cast("float")
        ).alias("embedding"),
    )
    got = pairs(
        KM.semantic_neardup_pairs_lsh_blocked(base.unionAll(dup), 0.9, 5)
    )
    assert {(i, i + 100000) for i in range(5)} <= {
        (a, b) for a, b, _ in got
    }


def test_blocked_numpy_variant_is_bit_identical(spark, emb):
    """The one-pass Arrow pair stage must return the exact tuple set —
    cosine BITS included — of the pure-JVM self-join form, at a
    threshold low enough that every within-cluster pair is emitted."""
    jvm = {
        tuple(r)
        for r in KM.semantic_neardup_pairs(emb, -1.0, 6, n_iter=1).collect()
    }
    arrow = {
        tuple(r)
        for r in KM.semantic_neardup_pairs_blocked_numpy(
            emb, -1.0, 6, n_iter=1
        ).collect()
    }
    assert jvm == arrow and len(jvm) > 100


def test_tiled_pair_stage_is_bit_identical(spark, emb):
    """Oversized-cluster tiling (the sf1-sweep scale fix) must return the
    EXACT tuple set of the untiled pair stage — every pair produced once,
    cosine bits unchanged — when max_block_rows forces b > 1 tiles per
    cluster. Threshold low enough that every pair is emitted, so missed
    cross-tile pairs or double-emitted diagonal pairs cannot hide."""
    untiled = {
        tuple(r)
        for r in KM.semantic_neardup_pairs_blocked_numpy(
            emb, -1.0, 6, n_iter=1
        ).collect()
    }
    tiled = {
        tuple(r)
        for r in KM.semantic_neardup_pairs_blocked_numpy(
            emb, -1.0, 6, n_iter=1, max_block_rows=7
        ).collect()
    }
    assert untiled == tiled and len(tiled) > 100
    # tiling also never duplicates a pair (set-compare above would hide
    # duplicates): count rows, not distinct tuples
    n_rows = KM.semantic_neardup_pairs_blocked_numpy(
        emb, -1.0, 6, n_iter=1, max_block_rows=7
    ).count()
    assert n_rows == len(tiled)


def test_kmeans_degenerate_inputs(spark):
    """k larger than the row count and duplicate points (guaranteed empty
    clusters after the first update) must not error: empty clusters keep
    their previous centroid and every row still gets an assignment."""
    rows = [(i, [float(i % 2), 0.0, 1.0]) for i in range(5)]  # 2 distinct pts
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, cents = KM.kmeans(df, 4, 3)  # k=4 > 2 distinct points
    got = assigned.collect()
    assert len(got) == 5
    assert all(0 <= r["cluster_id"] < 4 for r in got)
    assert len(cents) == 4  # empty clusters retained their previous centroid
    # identical points always co-cluster
    by_parity = {}
    for r in got:
        by_parity.setdefault(r["vec_id"] % 2, set()).add(r["cluster_id"])
    assert all(len(v) == 1 for v in by_parity.values())

    # k greater than the TOTAL row count: init just uses what exists
    tiny = spark.createDataFrame(rows[:2], "vec_id long, embedding array<float>")
    cents2 = KM.init_centroids(tiny, 10)
    assert len(cents2) == 2


def test_assign_is_codegen_only(spark, emb):
    """The assignment stage must stay JVM-side: no BatchEvalPython, no
    joins/exchanges — a single projected scan."""
    plan = KM.assign_clusters(
        emb, KM.init_centroids(emb, K)
    )._sc._jvm.PythonSQLUtils.explainString(
        KM.assign_clusters(emb, KM.init_centroids(emb, K))._jdf.queryExecution(),
        "formatted",
    )
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan and "Join" not in plan
