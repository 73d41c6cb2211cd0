"""Product quantization: ADC fidelity, determinism, compression sanity."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.operators import pq
from tests.conftest import TEST_SF_DIR

M, K, ITERS = 8, 16, 2


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, TEST_SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )


@pytest.fixture(scope="module")
def books(emb):
    return pq.train_codebooks(emb, M, K, ITERS)


def test_codes_shape_and_range(spark, emb, books):
    codes = pq.encode(emb, books).collect()
    assert len(codes) == emb.count()
    for r in codes:
        assert len(r["pq_code"]) == M
        assert all(0 <= c < K for c in r["pq_code"])


def test_encoding_partitioning_invariant(spark, emb, books):
    a = {r["vec_id"]: list(r["pq_code"]) for r in pq.encode(emb, books).collect()}
    b = {
        r["vec_id"]: list(r["pq_code"])
        for r in pq.encode(emb.repartition(11), books).collect()
    }
    assert a == b


def test_encode_numpy_bit_identical(spark, emb, books):
    """The Arrow-vectorized encode must emit the EXACT code per vector as
    the codegen/HOF projection — same dimension-ordered sq-dist
    accumulation, same first-minimum tiebreak — on every row and across
    partitionings (Arrow batch boundaries must not matter)."""
    hof = {r["vec_id"]: list(r["pq_code"]) for r in pq.encode(emb, books).collect()}
    vec = {
        r["vec_id"]: list(r["pq_code"])
        for r in pq.encode_numpy(emb.repartition(11), books).collect()
    }
    assert hof == vec and len(hof) == emb.count()


def test_encode_numpy_empty_input(spark, emb, books):
    """Zero-row input (and hence any empty Arrow batch the runtime hands
    the pandas_udf) must yield an empty result, not an IndexError from
    2-D-indexing a (0,)-shaped np.array."""
    none = emb.filter(F.lit(False))
    assert pq.encode_numpy(none, books).count() == 0
    assert pq.encode_numpy(none.repartition(4), books).count() == 0


def test_adc_approximates_exact_distances(spark, emb, books):
    """ADC must (a) match the numpy lookup-table computation exactly and
    (b) rank vectors usefully: the ADC top-10 recovers most of the exact
    squared-L2 top-10."""
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    q_id = int(ids[0])
    q = mat[0].tolist()

    codes = pq.encode(emb, books)
    got = {
        r["vec_id"]: r["adc_dist"]
        for r in codes.select(
            "vec_id", pq.adc_dist_column(q, books).alias("adc_dist")
        ).collect()
    }

    # (a) bitwise vs numpy re-computation of table + lookup
    code_map = {r["vec_id"]: list(r["pq_code"]) for r in codes.collect()}
    sub_dim = len(books[0][0])
    luts = []
    for j in range(M):
        q_sub = q[j * sub_dim : (j + 1) * sub_dim]
        luts.append(
            [
                sum((float(a) - float(b)) ** 2 for a, b in zip(q_sub, cent))
                for cent in books[j]
            ]
        )
    for vid, code in code_map.items():
        want = 0.0
        for j in range(M):
            want = want + luts[j][code[j]]
        assert got[vid] == pytest.approx(want, abs=0.0), vid

    # (b) weak ranking signal even on this near-uniform corpus: the query
    # itself must rank nearest, and overlap with the exact top-10 must
    # beat chance (E[overlap by chance] = 0.2 of 10)
    exact = ((mat - mat[0]) ** 2).sum(axis=1)
    top_exact = {int(i) for i in ids[np.argsort(exact)[:10]]}
    top_adc = {
        vid for vid, _ in sorted(got.items(), key=lambda kv: kv[1])[:10]
    }
    assert q_id in top_adc  # the query itself is nearest to itself
    assert len(top_exact & top_adc) >= 2


def test_adc_ranking_on_clustered_data(spark):
    """On data with real neighborhood structure (10 planted clusters, 64-d,
    tight noise) the ADC top-10 must recover most of the exact top-10 —
    the regime PQ exists for. (The lake's synthetic embeddings are
    near-uniform, where ALL distances concentrate and top-k is noise.)"""
    rng = np.random.RandomState(7)
    centers = rng.normal(0, 1.0, size=(10, 64))
    mat = np.vstack(
        [c + rng.normal(0, 0.05, size=(50, 64)) for c in centers]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(len(mat))],
        "vec_id long, embedding array<float>",
    )
    books = pq.train_codebooks(df, M, K, ITERS)
    codes = pq.encode(df, books)
    mat64 = np.array(
        [r["embedding"] for r in df.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    q = mat64[0].tolist()
    got = {
        r["vec_id"]: r["adc_dist"]
        for r in codes.select(
            "vec_id", pq.adc_dist_column(q, books).alias("adc_dist")
        ).collect()
    }
    exact = ((mat64 - mat64[0]) ** 2).sum(axis=1)
    top_exact = set(int(i) for i in np.argsort(exact)[:10])
    top_adc = {vid for vid, _ in sorted(got.items(), key=lambda kv: kv[1])[:10]}
    # PQ's honest guarantee at 4 bytes/vector is COARSE ranking: every
    # ADC top-10 member must be in the query's cluster (the 2% of the
    # corpus that is actually near), and the fine-grained overlap with
    # the exact top-10 must be far above the 0.2 chance level. Sub-code
    # quantization error dominates WITHIN-cluster ordering — that's what
    # the exact-rerank stage downstream of PQ is for.
    assert all(v < 50 for v in top_adc)
    assert len(top_exact & top_adc) >= 5


def test_full_ann_stack_ivf_pq_rerank(spark):
    """The production ANN composition end-to-end: k-means IVF restricts
    WHICH vectors are considered, ADC over PQ codes cheaply ranks the
    candidates, and an exact rerank of the ADC shortlist restores
    fine-grained order — final top-5 must match brute force on clustered
    data."""
    from nhl_data_pipeline_spark.operators import kmeans as KM

    rng = np.random.RandomState(3)
    centers = rng.normal(0, 1.0, size=(8, 64))
    mat = np.vstack([c + rng.normal(0, 0.05, size=(40, 64)) for c in centers])
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(len(mat))],
        "vec_id long, embedding array<float>",
    )
    # stage 1: IVF — assign corpus to clusters, probe the query's nprobe=2
    # nearest (min-id seeding can SPLIT a planted cluster across two
    # centroids — the reason real IVF probes several buckets)
    assigned, cents = KM.kmeans(df, 8, 3)
    q_vec = mat[0].astype(np.float64)
    near2 = sorted(
        range(8), key=lambda c: ((np.array(cents[c]) - q_vec) ** 2).sum()
    )[:2]
    cand = assigned.filter(F.col("cluster_id").isin(near2)).select(
        "vec_id", "embedding"
    )
    assert 0 < cand.count() < len(mat)  # pruning actually pruned

    # stage 2: PQ/ADC shortlist over the candidates only
    books = pq.train_codebooks(df, M, K, ITERS)
    shortlist = {
        r["vec_id"]
        for r in pq.encode(cand, books)
        .select(
            "vec_id",
            pq.adc_dist_column(q_vec.tolist(), books).alias("adc_dist"),
        )
        .orderBy("adc_dist")
        .limit(20)
        .collect()
    }

    # stage 3: exact rerank of the shortlist
    short_df = df.filter(F.col("vec_id").isin(*shortlist))
    rows = short_df.collect()
    exact_short = sorted(
        rows,
        key=lambda r: ((np.array(r["embedding"]) - q_vec) ** 2).sum(),
    )[:5]
    got_top5 = [r["vec_id"] for r in exact_short]

    brute = np.argsort(((mat - mat[0]) ** 2).sum(axis=1))[:5]
    assert got_top5 == [int(i) for i in brute]


def test_quantization_error_beats_random_codes(spark, emb, books):
    """Trained codebooks must reconstruct better than randomly-assigned
    codes from the same codebooks — i.e. training actually moved things."""
    rows = emb.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    code_map = {
        r["vec_id"]: list(r["pq_code"])
        for r in pq.encode(emb, books).collect()
    }
    sub_dim = len(books[0][0])

    def recon(code):
        return np.concatenate([np.array(books[j][code[j]]) for j in range(M)])

    err_trained = np.mean(
        [
            ((mat[i] - recon(code_map[int(r["vec_id"])])) ** 2).sum()
            for i, r in enumerate(rows)
        ]
    )
    rng = np.random.RandomState(0)
    err_random = np.mean(
        [
            ((mat[i] - recon(list(rng.randint(0, K, M)))) ** 2).sum()
            for i in range(len(rows))
        ]
    )
    assert err_trained < 0.7 * err_random
