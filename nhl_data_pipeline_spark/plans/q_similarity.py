"""Similarity-search queries over the embeddings table (array<float>).

Brute-force cosine top-k (exact baseline), IVF-probed ANN (the scale path),
and above-threshold near-dup pairs. Dot products are float64 left-to-right
sums — verified bit-identical between Spark higher-order functions and the
DuckDB list functions used by the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nhl_data_pipeline_spark.catalog import footer, load_table
from nhl_data_pipeline_spark.operators import dedup as D
from nhl_data_pipeline_spark.operators.similarity import (
    cosine_allpairs_numpy,
    cosine_topk,
    dot_expr_sql,
    dot_sql,
    hyperplane_band_buckets,
    hyperplane_band_buckets_sql,
    norm_sql,
    with_norm,
)
from nhl_data_pipeline_spark.plans.registry import query

_N_QUERIES = 10  # vec_id < 10 are the query vectors
_TOPK = 5
_N_CENTROIDS = 8  # vec_id 10..17 double as IVF centroids
_NPROBE = 2
_COS = f"{dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)"


@query(
    "embedding_knn_bruteforce",
    covers="LLM-ann-bruteforce,O2,W2",
    bench=True,
    oracle=f"""
        WITH normed AS (
            SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm FROM embeddings
        ),
        q AS (SELECT * FROM normed WHERE vec_id < {_N_QUERIES}),
        c AS (SELECT * FROM normed WHERE vec_id >= {_N_QUERIES}),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS} AS cosine
            FROM q JOIN c ON TRUE
        )
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
            ) AS rank
            FROM scored
        )
        WHERE rank <= {_TOPK}
    """,
)
def embedding_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: the ANN correctness baseline.

    Queries broadcast; candidates stream once; per-query top-k via window
    rank with id tiebreak. At 100 TB swap the inner loop for a numpy-matmul
    Pandas UDF and pre-normalize the corpus — the plan shape is unchanged.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(
        e.filter(F.col("vec_id") < _N_QUERIES),
        e.filter(F.col("vec_id") >= _N_QUERIES),
        _TOPK,
    )


@query(
    "embedding_ann_ivf",
    covers="LLM-ann-ivf",
    oracle=f"""
        WITH normed AS (
            SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS centroid_id, embedding, nrm FROM normed
            WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES + _N_CENTROIDS}
        ),
        cand AS (SELECT * FROM normed WHERE vec_id >= {_N_QUERIES}),
        assign AS (
            SELECT vec_id, centroid_id FROM (
                SELECT c.vec_id, q.centroid_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.vec_id
                           ORDER BY {dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) DESC,
                                    q.centroid_id ASC
                       ) AS rn
                FROM cand c JOIN cent q ON TRUE
            ) WHERE rn = 1
        ),
        qv AS (SELECT * FROM normed WHERE vec_id < {_N_QUERIES}),
        probes AS (
            SELECT query_id, centroid_id FROM (
                SELECT q.vec_id AS query_id, c.centroid_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {dot_sql('c.embedding', 'q.embedding')} / (c.nrm * q.nrm) DESC,
                                    c.centroid_id ASC
                       ) AS rn
                FROM qv q JOIN cent c ON TRUE
            ) WHERE rn <= {_NPROBE}
        ),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS} AS cosine
            FROM qv q
            JOIN probes p ON p.query_id = q.vec_id
            JOIN assign a ON a.centroid_id = p.centroid_id
            JOIN normed c ON c.vec_id = a.vec_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
            ) AS rank
            FROM scored
        )
        WHERE rank <= {_TOPK}
    """,
)
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed approximate nearest neighbors.

    Corpus is partitioned by nearest centroid (the inverted file); each
    query scores only its nprobe nearest centroid buckets. At 100 TB the
    assignment is a write-time bucketing/partition column, so the probe is
    partition pruning — this query IS the read-side plan. Centroids here
    are fixed ids (deterministic stand-in for a k-means fit).
    """
    e = load_table(spark, sf_dir, "embeddings")
    normed = with_norm(e)
    cent = (
        normed.filter(
            (F.col("vec_id") >= _N_QUERIES)
            & (F.col("vec_id") < _N_QUERIES + _N_CENTROIDS)
        )
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cent_vec"),
            F.col("nrm").alias("cent_nrm"),
        )
    )
    cand = normed.filter(F.col("vec_id") >= _N_QUERIES)
    qv = normed.filter(F.col("vec_id") < _N_QUERIES)

    cos_cc = F.expr(
        f"{dot_expr_sql('cent_vec', 'embedding')} / (cent_nrm * nrm)"
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("sim"), F.asc("centroid_id")
    )
    assign = (
        cand.join(F.broadcast(cent))
        .withColumn("sim", cos_cc)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id")
    )
    probes = (
        qv.join(F.broadcast(cent))
        .withColumn("sim", cos_cc)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= _NPROBE)
        .select(F.col("vec_id").alias("query_id"), "centroid_id")
    )
    q_side = qv.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        probes.join(assign, "centroid_id")
        .join(normed.select("vec_id", "embedding", "nrm"), "vec_id")
        .join(F.broadcast(q_side), "query_id")
        .withColumn(
            "cosine",
            F.expr(f"{dot_expr_sql('q_vec', 'embedding')} / (q_nrm * nrm)"),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


_DIM, _LSH_BANDS, _LSH_ROWS = 64, 8, 3
_BBKT_SQL = hyperplane_band_buckets_sql("embedding", _DIM, _LSH_BANDS, _LSH_ROWS)


# The oracle's cosine is a LEFT-ASSOCIATED unrolled arithmetic chain over
# 64 pre-extracted double columns, computed once in a streamed subquery,
# not a per-pair interpreted list_zip/list_transform fold (which ran
# ~40 min at sf1's 20K vectors). (0.0 + q.d1*c.d1 + ... + q.d64*c.d64)
# parses left-associative, so the float64 addition order is EXACTLY the
# engine's aggregate fold (which seeds acc=0.0) — verified bit-exact over
# all 920 sf0.1 pairs, 3.2× faster than the list form there.
_NEARDUP_DIM_COLS = ",\n                   ".join(
    f"CAST(embedding[{i}] AS DOUBLE) AS d{i}" for i in range(1, _DIM + 1)
)
_NEARDUP_DOT_CHAIN = " + ".join(f"q.d{i}*c.d{i}" for i in range(1, _DIM + 1))
EMBEDDING_NEARDUP_ORACLE = f"""
        WITH normed AS MATERIALIZED (
            SELECT vec_id, {norm_sql('embedding')} AS nrm,
                   {_BBKT_SQL} AS bkts,
                   {_NEARDUP_DIM_COLS}
            FROM embeddings
        ),
        banded AS (
            SELECT vec_id, unnest(generate_series(1, {_LSH_BANDS})) AS band_idx,
                   unnest(bkts) AS bucket
            FROM normed
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM banded a JOIN banded b
              ON a.band_idx = b.band_idx AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
        ),
        nd_scored AS (
            SELECT q.vec_id AS vec_a, c.vec_id AS vec_b,
                   (0.0 + {_NEARDUP_DOT_CHAIN}) / (q.nrm * c.nrm) AS cosine
            FROM normed q JOIN normed c ON q.vec_id < c.vec_id
        )
        SELECT s.vec_a, s.vec_b, s.cosine,
               EXISTS (SELECT 1 FROM cand
                       WHERE cand.vec_a = s.vec_a AND cand.vec_b = s.vec_b)
                   AS in_lsh
        FROM nd_scored s
        WHERE s.cosine >= 0.4
    """


@query(
    "embedding_neardup_pairs",
    covers="LLM-dedup-embedding,LLM-dedup-embedding-lsh",
    oracle=EMBEDDING_NEARDUP_ORACLE,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs, each flagged with whether the
    banded hyperplane LSH ALSO surfaces it: the in_lsh flag makes the
    LSH's empirical recall a directly-audited quantity instead of a
    docstring claim.

    The exact side is the vectorized bit-exact all-pairs scorer
    (operators.similarity.cosine_allpairs_numpy — Arrow-batched
    per-dimension accumulation reproducing the JVM/DuckDB left-to-right
    float64 fold); O(n²) by design, the declared audit baseline. The LSH
    side is 8 bands × 3 deterministic ±1 hyperplanes (recall ≈
    1-(1-p³)⁸ ≈ 0.9 at cosine 0.4; banding is what makes sign-LSH usable —
    a 24-plane AND-bucket would have recall p²⁴ ≈ 0); LSH-verified pairs ⊆
    exact pairs (precision 1), so the flag is a left join of candidates
    onto the exact pair set. At 100 TB run the LSH side alone (cost tracks
    band-bucket occupancy, not n²) with band_idx+bucket as the shuffle
    key; bucket ids are bit-stable across engines because dots sum
    left-to-right in float64.
    """
    exact = cosine_allpairs_numpy(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "bkts", hyperplane_band_buckets("embedding", _DIM, _LSH_BANDS, _LSH_ROWS)
    )
    banded = e.select(
        "vec_id", F.posexplode("bkts").alias("band_idx", "bucket")
    ).persist()
    cand = D.band_pairs(
        banded, ["band_idx", "bucket"], "vec_id", ("vec_a", "vec_b")
    ).withColumn("_hit", F.lit(True))
    # LSH-verified pairs are a subset of the exact pair set (precision 1),
    # so flagging = a left join of candidates onto the exact pairs.
    return exact.join(cand, ["vec_a", "vec_b"], "left").select(
        "vec_a",
        "vec_b",
        "cosine",
        F.coalesce("_hit", F.lit(False)).alias("in_lsh"),
    )


# k-means / PQ queries. Both use PINNED deterministic centroids (the k
# smallest-id corpus vectors — operators.kmeans.init_centroids) so the
# oracle is pure SQL: the Lloyd UPDATE step's decimal-exact mean is
# deliberately NOT in the oracle path because float->decimal casts are not
# cross-engine bit-stable (Spark rounds via JDK Double.toString's
# shortest-repr, DuckDB via the exact binary expansion — measured
# divergence at scale 18, e.g. 123.456001281738280000 vs ...276864), while
# the assignment/blocking/ADC arithmetic below is the proven left-to-right
# float64 idiom. The trained variants (kmeans n_iter>0, train_codebooks)
# are numpy-parity + recall-gate verified in tests/test_kmeans.py /
# tests/test_pq.py.

_KM_K = 8  # clusters for the semantic-dedup blocking key
# The exact audit's threshold is deliberately low so that it yields oracle
# rows at sf0.01; banded sign-LSH can only block efficiently when the
# target cosine is high (semantic_neardup_pairs_lsh_blocked's docstring
# has the collision math), so the scale form runs the production near-dup
# regime instead.
_KM_THRESHOLD = 0.4
_KM_SCALE_THRESHOLD = 0.9
# Sample bound of the exact within-cluster audit, which is O(n²/k) by
# definition: its cost at any SF is capped by bounding the sample, not the
# algorithm. 25_000 covers every test lake (max vec_id 1_999 at sf0.1) and
# the full sf1 lake (ids 0..19_999), so larger sweeps audit a constant
# 25K-vector sample.
_KM_AUDIT_BOUND = 25_000


def _sqd_sql(a: str, b: str) -> str:
    """DuckDB twin of operators.kmeans._sq_dist (left-to-right float64)."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        f" p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
        f" * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    )


def _km_pairs_oracle(threshold: float, bound: int | None) -> str:
    """Exact within-cluster pairs at cosine >= ``threshold`` under the
    pinned centroids, over vectors with id < ``bound`` (None: all)."""
    sample = "" if bound is None else f"WHERE e.vec_id < {bound}"
    return f"""
        WITH cents AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id,
                   embedding AS cvec
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT {_KM_K})
        ),
        dists AS (
            SELECT e.vec_id, e.embedding, c.cluster_id,
                   {_sqd_sql('e.embedding', 'c.cvec')} AS d
            FROM embeddings e CROSS JOIN cents c
            {sample}
        ),
        assigned AS (
            SELECT vec_id, embedding, cluster_id,
                   {norm_sql('embedding')} AS nrm
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY vec_id ORDER BY d, cluster_id) AS rn
                  FROM dists)
            WHERE rn = 1
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)
                   AS cosine
        FROM assigned a JOIN assigned b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        WHERE {dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)
              >= {threshold}
    """


@query(
    "kmeans_semantic_dedup",
    covers="LLM-kmeans,LLM-dedup-embedding-lsh",
    bench=True,
    oracle=_km_pairs_oracle(_KM_SCALE_THRESHOLD, None),
)
def kmeans_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs at cosine >= 0.9 over the FULL lake: kmeans
    blocking composed with in-cluster hyperplane-LSH banding
    (operators.kmeans.semantic_neardup_pairs_lsh_blocked — work tracks
    near-dup density, not n²). Candidates are scored exactly under the
    same pinned centroids as the oracle, so the output is a subset of the
    exact within-cluster pairs and equals it at recall 1 (recall is
    audited in tests/test_kmeans.py).

    The corpus row count feeding the adaptive LSH band width comes from
    the Parquet footer (catalog.footer), so it costs no count job."""
    import os

    from nhl_data_pipeline_spark.operators import kmeans as KM

    e = load_table(spark, sf_dir, "embeddings")
    n_total = footer(os.path.join(sf_dir, "embeddings.parquet"), spark).num_rows
    return KM.semantic_neardup_pairs_lsh_blocked(
        e, _KM_SCALE_THRESHOLD, _KM_K, dim=_DIM, n_total=n_total
    )


@query(
    "kmeans_cluster_audit",
    covers="LLM-kmeans,LLM-dedup-embedding",
    oracle=_km_pairs_oracle(_KM_THRESHOLD, _KM_AUDIT_BOUND),
)
def kmeans_cluster_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact semantic near-dup pairs at cosine >= 0.4 searched only WITHIN
    k-means clusters: sum-of-squares-of-cluster-sizes work instead of n²,
    run on a bounded sample (_KM_AUDIT_BOUND) so its cost is constant at
    any SF.

    Assignment is pure whole-stage codegen (literal centroid matrix,
    zip_with/aggregate squared-L2 fold, array_position first-min
    tiebreak); the corpus is scanned once and shuffled once (on
    cluster_id) into a per-cluster Arrow pair stage whose per-dimension
    sequential accumulation is bit-identical to the JVM/DuckDB fold
    (verified on the full 15K-pair set; the pure-JVM self-join form,
    operators/kmeans.py::semantic_neardup_pairs, is 3× slower at sf0.1
    and kept as the no-Python fallback). The centroids are pinned at init
    (k smallest-id vectors, n_iter=0) so DuckDB can replay the exact
    assignment arithmetic; the Lloyd's refinement (decimal-exact
    order-independent means) is numpy-parity verified in
    tests/test_kmeans.py — see the module comment above for why
    float→decimal rounding can't cross the engine boundary.
    Reference analog: `dbt_nhl/models/staging/stg_player_name_crosswalk.sql:66-139`
    (blocking keys for entity resolution), learned instead of derived.
    """
    from nhl_data_pipeline_spark.operators import kmeans as KM

    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _KM_AUDIT_BOUND
    )
    return KM.semantic_neardup_pairs_blocked_numpy(
        e, _KM_THRESHOLD, _KM_K, n_iter=0
    )


_PQ_M, _PQ_K, _PQ_SUB = 8, 16, 8  # 8 subspaces x 16 centroids over 64 dims
_PQ_TOPK = 50


def _pq_slice(expr: str, j: str) -> str:
    return f"list_slice({expr}, {j}*{_PQ_SUB}+1, {j}*{_PQ_SUB}+{_PQ_SUB})"


@query(
    "pq_adc_topk",
    covers="LLM-pq-adc",
    bench=True,
    oracle=f"""
        WITH cb AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
                   embedding AS cvec
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT {_PQ_K})
        ),
        subs AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS j),
        enc AS (
            SELECT vec_id, j, code FROM (
                SELECT e.vec_id, s.j, cb.code,
                       row_number() OVER (
                           PARTITION BY e.vec_id, s.j
                           ORDER BY {_sqd_sql(_pq_slice('e.embedding', 's.j'),
                                              _pq_slice('cb.cvec', 's.j'))},
                                    cb.code
                       ) AS rn
                FROM embeddings e CROSS JOIN subs s CROSS JOIN cb
            ) WHERE rn = 1
        ),
        q AS (SELECT embedding AS qvec FROM embeddings ORDER BY vec_id LIMIT 1),
        lut AS (
            SELECT s.j, cb.code,
                   {_sqd_sql(_pq_slice('q.qvec', 's.j'),
                             _pq_slice('cb.cvec', 's.j'))} AS dist
            FROM subs s CROSS JOIN cb CROSS JOIN q
        ),
        adc AS (
            SELECT e.vec_id,
                   array_to_string(list(e.code ORDER BY e.j), '-') AS pq_code,
                   list_sum(list(l.dist ORDER BY e.j)) AS adc_dist
            FROM enc e JOIN lut l ON l.j = e.j AND l.code = e.code
            GROUP BY e.vec_id
        )
        SELECT vec_id, pq_code, adc_dist, CAST(rnk AS INT) AS rank
        FROM (SELECT *, row_number() OVER (ORDER BY adc_dist, vec_id) AS rnk
              FROM adc)
        WHERE rnk <= {_PQ_TOPK}
    """,
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode + asymmetric-distance top-k — the
    memory side of 100 TB vector search (4-byte codes instead of 256-byte
    vectors; ADC scores rows from an m×k literal lookup table, never
    touching the original vectors).

    Codebooks here are PINNED (each subspace's codebook = the k smallest-id
    vectors' sub-slices) so the encode argmin and the driver-side float64
    LUT replay exactly in DuckDB; k-means-trained codebooks
    (operators.pq.train_codebooks) are the production path, verified by
    numpy-bitwise + planted-cluster ranking tests (tests/test_pq.py).
    Encode is the Arrow-vectorized form (operators/pq.py::encode_numpy,
    bit-identical to the codegen projection; the interpreted-HOF fold it
    replaces measured 2.38 → 0.67 s at sf0.1 and 4.92 → 0.86 s at sf1,
    same-session A/B); ADC is
    m element_at lookups + left-assoc adds per row; top-k is a global
    row_number with (dist, id) tiebreak — Spark's WindowGroupLimit
    prefilters each partition to its local top-k before the merge.
    """
    from nhl_data_pipeline_spark.operators import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    pinned = e.select("vec_id", "embedding").orderBy("vec_id").limit(_PQ_K).collect()
    base = [[float(v) for v in r["embedding"]] for r in pinned]
    books = [
        [row[j * _PQ_SUB : (j + 1) * _PQ_SUB] for row in base]
        for j in range(_PQ_M)
    ]
    # ADC dist appended to the coded frame in the same projection — the
    # encode runs ONCE and there is no self-join on the id.
    scored = PQ.encode_numpy(e, books).withColumn(
        "adc_dist", PQ.adc_dist_column(base[0], books)
    )
    w = Window.orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select(
            "vec_id",
            F.concat_ws("-", F.col("pq_code")).alias("pq_code"),
            "adc_dist",
            "rank",
        )
    )
