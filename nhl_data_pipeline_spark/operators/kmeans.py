"""Distributed k-means over embedding columns + cluster-scoped semantic dedup.

Lloyd's algorithm, Spark-first: centroids are the only driver-side state
(k×dim floats — the legitimate broadcast-small-state pattern, same as IVF's
centroid table), everything corpus-sized stays distributed:

- ASSIGN is pure whole-stage codegen: the centroid matrix is a literal
  array<array<double>> broadcast into the plan; per-row distances are a
  `transform` over it with a zip_with/aggregate squared-L2 fold, and the
  cluster id is `array_position(dists, array_min(dists)) - 1` (first
  minimum ⇒ lowest-cluster-id tiebreak, fully deterministic). No Python,
  no crossJoin, no shuffle.
- UPDATE is one map-side-combinable aggregate: posexplode(vec) →
  groupBy(cluster, dim) → decimal-exact mean (order-independent — the
  distributed sum cannot wobble with partitioning; see
  functions.scalars.dec for the idiom), collected back as the next k×dim
  matrix. Empty clusters keep their previous centroid.

Iterations are fixed-count (not convergence-tested) so results are a pure
function of (input, k, n_iter) — reproducible across runs and engines.

Semantic dedup = k-means assignment as a blocking key: near-duplicate
pairs are only searched WITHIN a cluster (embedding near-dups are near in
L2, so they co-cluster), turning the O(n²) all-pairs cosine into
sum-of-squares over cluster sizes. The exact all-pairs operator
(similarity.cosine_allpairs_numpy) remains the declared exact baseline;
this is its scale form, the same exact-vs-banded split as the jaccard /
MinHash-LSH family.

Reference analog: the entity-resolution crosswalk's blocking strategy
(`dbt_nhl/models/staging/stg_player_name_crosswalk.sql:66-139` blocks
candidate matches on normalized name keys) — here the block key is learned
from the data instead of derived from a column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.operators.dedup import band_pairs
from nhl_data_pipeline_spark.operators.similarity import dot_expr_sql, norm_expr_sql

# Per-call cached-table rotation handles: each call unpersists the
# PREVIOUS call's cached table before persisting its own, so long-lived
# sessions hold at most one cached copy per operator instead of one per
# call. The swap is lock-guarded: without it, two
# concurrent callers could race the read-then-unpersist and one would
# drop the other's cache before its downstream stage ran — correctness
# is unaffected (unpersist just forces a recompute), but the persist's
# double-scan saving would be silently defeated. The lock makes the
# rotation atomic; INTERLEAVED callers (A rotates, then B rotates before
# A's pair stage materializes) still trade A's cache away — that is the
# documented single-pipeline-at-a-time assumption of these operators.
import threading as _threading

_CACHE_LOCK = _threading.Lock()
_LAST_ASSIGNED: DataFrame | None = None
_LAST_BANDED: DataFrame | None = None


def _rotate_cache(handle_name: str, new_df: DataFrame) -> DataFrame:
    """Atomically swap a module-level persisted-table handle: unpersist
    the previous call's table, persist and record the new one."""
    global _LAST_ASSIGNED, _LAST_BANDED
    with _CACHE_LOCK:
        prev = globals()[handle_name]
        if prev is not None:
            try:
                prev.unpersist(blocking=False)
            except Exception:
                pass
        new_df = new_df.persist()
        globals()[handle_name] = new_df
    return new_df

Matrix = list[list[float]]


def _lit_matrix(centroids: Matrix) -> Column:
    return F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for c in centroids]
    )


def _sq_dist(vec: Column, centroid: Column) -> Column:
    """Left-to-right float64 squared distance as interpreted HOFs. At this
    engine's shapes (16 centroids × 64 dims, or 8×16×8 for PQ) the HOF
    loop beats plain arithmetic over literal centroids: the expanded tree
    overflows codegen into interpretation (pq_adc_topk 1.9 s vs 9.2 s,
    kmeans assign 1.1 s vs 4.5 s at sf0.1)."""
    diff2 = F.zip_with(
        vec,
        centroid,
        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
    )
    return F.aggregate(diff2, F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def init_centroids(
    df: DataFrame, k: int, *, vec: str = "embedding", id_col: str = "vec_id"
) -> Matrix:
    """Deterministic seeding: the k rows with the smallest ids."""
    rows = df.select(id_col, vec).orderBy(id_col).limit(k).collect()
    return [[float(v) for v in r[vec]] for r in rows]


def assign_clusters(
    df: DataFrame,
    centroids: Matrix,
    *,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, vec, cluster_id, sq_dist) — nearest centroid per row, codegen-only."""
    dists = F.transform(_lit_matrix(centroids), lambda c: _sq_dist(F.col(vec), c))
    d = df.withColumn("_dists", dists)
    return d.select(
        F.col(id_col),
        F.col(vec),
        (F.array_position(F.col("_dists"), F.array_min(F.col("_dists"))) - 1)
        .cast("int")
        .alias("cluster_id"),
        F.array_min(F.col("_dists")).alias("sq_dist"),
    )


def update_centroids(
    assigned: DataFrame, centroids: Matrix, *, vec: str = "embedding"
) -> Matrix:
    """Per-cluster elementwise mean via one distributed aggregate.

    Sums go through DECIMAL(38,18) so the mean is order-independent —
    identical across partitionings and retries (float64 reduction order
    would wobble the centroids and, near Voronoi boundaries, flip
    assignments between runs)."""
    rows = (
        assigned.select("cluster_id", F.posexplode(F.col(vec)).alias("dim", "x"))
        .groupBy("cluster_id", "dim")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(38,18)")) / F.count(F.lit(1))
            )
            .cast("double")
            .alias("m")
        )
        .collect()
    )
    out = [list(c) for c in centroids]  # empty cluster → keep previous
    for r in rows:
        out[r["cluster_id"]][r["dim"]] = r["m"]
    return out


def kmeans(
    df: DataFrame,
    k: int,
    n_iter: int = 5,
    *,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, Matrix]:
    """Fixed-iteration Lloyd's. Returns (assignments, final centroids)."""
    cents = init_centroids(df, k, vec=vec, id_col=id_col)
    for _ in range(n_iter):
        cents = update_centroids(
            assign_clusters(df, cents, vec=vec, id_col=id_col), cents, vec=vec
        )
    return assign_clusters(df, cents, vec=vec, id_col=id_col), cents


def semantic_neardup_pairs(
    df: DataFrame,
    threshold: float,
    k: int,
    n_iter: int = 5,
    *,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cosine-near-dup pairs searched only within k-means clusters.

    (id_a, id_b, cosine) with id_a < id_b and cosine ≥ threshold. The
    cluster id blocks the self-join: the join shuffles on cluster_id and
    each partition compares only its own cluster — sum(|c|²) work instead
    of n². Recall: a pair is found iff both members land in the same
    cluster; near-identical vectors virtually always do (their L2 gap is
    tiny relative to centroid spacing). The global exact operator is the
    audit path for the residual."""
    assigned = kmeans(df, k, n_iter, vec=vec, id_col=id_col)[0].select(
        "cluster_id",
        F.col(id_col),
        F.col(vec),
        F.expr(norm_expr_sql(vec)).alias("nrm"),
    )
    a = assigned.select(
        "cluster_id",
        F.col(id_col).alias("id_a"),
        F.col(vec).alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        "cluster_id",
        F.col(id_col).alias("id_b"),
        F.col(vec).alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine", F.expr(f"{dot_expr_sql('va', 'vb')} / (na * nb)")
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_neardup_pairs_blocked_numpy(
    df: DataFrame,
    threshold: float,
    k: int,
    n_iter: int = 5,
    *,
    vec: str = "embedding",
    id_col: str = "vec_id",
    max_block_rows: int = 600,
) -> DataFrame:
    """Same contract as :func:`semantic_neardup_pairs`, one-pass Arrow form.

    The join variant scans + assigns the corpus twice (once per self-join
    side) and evaluates the cosine fold with interpreted higher-order
    functions per candidate pair. Here the corpus is scanned ONCE:
    codegen assignment → shuffle on (cluster_id, tile) → per-tile
    `applyInPandas` scores the pair block vectorized.

    Bit-identical to the JVM/DuckDB fold by the
    similarity.cosine_allpairs_numpy trick: accumulate with an explicit
    loop over DIMENSIONS (`acc += A[:, d:d+1] * B[None, :, d]`) —
    sequential IEEE adds in index order, vectorized across pairs — so
    the cosine bits and the ≥-threshold pair set match the oracle
    exactly (measured: 3.0 s → ~1 s at sf0.1, identical hash).

    Oversized-cluster TILING: with fixed k, a
    10× corpus makes every cluster's pair block 100× bigger AND caps
    parallelism at k tasks — measured 12.6× wall-clock at 10× data
    (BENCH_r06_sf1_sweep.json). Tiles are sized from the LARGEST
    cluster, not the average: k-means clusters are routinely skewed,
    and an average-sized b would let a 10×-average cluster build
    ~100×-the-bound matrices in its tile tasks. One k-row
    groupBy('cluster_id').count() after assignment (cheap relative to
    the pair stage it sizes) finds that max. When it exceeds
    ``max_block_rows``, rows are deterministically split into
    b = ⌈max_cluster/max_block_rows⌉ sub-blocks (id % b) and each cluster's
    pair search fans out over the b(b+1)/2 block-tiles — diagonal tiles
    score their triangle, off-diagonal tiles the cross rectangle — so
    every pair is produced EXACTLY once (pair (a,b) lives only in tile
    (min,max) of its blocks), per-task matrices are bounded at
    ~max_block_rows² regardless of corpus size or cluster skew (the
    id % b split is uniform WITHIN a cluster, so even the largest
    cluster's blocks are ≤ ~max_block_rows), and parallelism is
    k·b(b+1)/2 instead of k. Each row is replicated to its b tiles —
    shuffle volume grows b× on the (small) vector rows, pair work total
    is unchanged. b=1 (every SF the driver/bench correctness gates run
    at) reproduces the untiled plan byte-for-byte; values are
    B-invariant by the dimension-ordered fold.
    """
    import math

    import numpy as np
    import pandas as pd

    # Persisted: the sizing agg below materializes the assignment and
    # the pair stage then reads it back instead of re-scanning +
    # re-assigning the corpus.
    # Leak guard (lock-guarded — see _rotate_cache): each
    # call rotates a module-level handle, unpersisting the PREVIOUS
    # call's assignment before persisting the new one — long-lived
    # sessions calling this repeatedly hold at most one cached
    # assignment instead of accumulating one per call. The old entry's
    # data was already consumed by the pair DataFrame the prior call
    # returned (it materializes on first action); unpersist after that
    # merely forces a recompute if someone re-collects it.
    assigned = _rotate_cache(
        "_LAST_ASSIGNED",
        kmeans(df, k, n_iter, vec=vec, id_col=id_col)[0].select(
            "cluster_id", F.col(id_col), F.col(vec)
        ),
    )
    # Worst-case sizing: one k-row agg over the assignment finds the
    # largest cluster, so the per-task matrix bound holds under skew
    # (an average-based b would be ~skew² too small for the hot
    # cluster's tiles). Bounded driver state: a single long.
    max_cluster = (
        assigned.groupBy("cluster_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
        or 0
    )
    b = max(1, math.ceil(max_cluster / max_block_rows))

    def _cos_block(x: "np.ndarray", y: "np.ndarray") -> "np.ndarray":
        dim = x.shape[1]
        nx = np.zeros(len(x))
        ny = np.zeros(len(y))
        for d in range(dim):
            nx += x[:, d] * x[:, d]
            ny += y[:, d] * y[:, d]
        acc = np.zeros((len(x), len(y)))
        for d in range(dim):
            acc += x[:, d : d + 1] * y[None, :, d]
        return acc / (np.sqrt(nx)[:, None] * np.sqrt(ny)[None, :])

    empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
        {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
    )

    def score(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = (key[1], key[2]) if len(key) >= 3 else (0, 0)
        if tx == ty:  # diagonal tile: triangle over one block
            m = len(pdf)
            if m < 2:
                return empty
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec]), dtype=np.float64)
            cos = _cos_block(mat, mat)
            ai, bi = np.nonzero(
                (cos >= threshold) & (ids[:, None] < ids[None, :])
            )
            return pd.DataFrame(
                {"id_a": ids[ai], "id_b": ids[bi], "cosine": cos[ai, bi]}
            )
        xs = pdf[pdf["blk"] == tx]
        ys = pdf[pdf["blk"] == ty]
        if xs.empty or ys.empty:
            return empty
        idx = xs[id_col].to_numpy(dtype=np.int64)
        idy = ys[id_col].to_numpy(dtype=np.int64)
        cos = _cos_block(
            np.array(list(xs[vec]), dtype=np.float64),
            np.array(list(ys[vec]), dtype=np.float64),
        )
        ai, bi = np.nonzero(cos >= threshold)
        return pd.DataFrame(
            {
                "id_a": np.minimum(idx[ai], idy[bi]),
                "id_b": np.maximum(idx[ai], idy[bi]),
                "cosine": cos[ai, bi],
            }
        )

    schema = "id_a long, id_b long, cosine double"
    if b == 1:
        def score_tri(_key, pdf: pd.DataFrame) -> pd.DataFrame:
            return score((None, 0, 0), pdf)

        return assigned.groupBy("cluster_id").applyInPandas(
            score_tri, schema
        )
    p = (F.col(id_col) % b).cast("int")
    tiles = F.transform(
        F.sequence(F.lit(0), F.lit(b - 1)),
        lambda q: F.struct(
            F.least(p, q).alias("tx"), F.greatest(p, q).alias("ty")
        ),
    )
    exploded = assigned.withColumn("blk", p).withColumn(
        "tile", F.explode(tiles)
    )
    return exploded.groupBy(
        "cluster_id", F.col("tile.tx").alias("tx"), F.col("tile.ty").alias("ty")
    ).applyInPandas(score, schema)


def semantic_neardup_pairs_lsh_blocked(
    df: DataFrame,
    threshold: float,
    k: int,
    *,
    dim: int = 64,
    bands: int = 32,
    rows: int | None = None,
    n_total: int | None = None,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """kmeans blocking COMPOSED with in-cluster hyperplane-LSH banding —
    the density-linear scale form of the cluster-scoped semantic dedup
    (the exact within-cluster all-pairs is O(n²/k) work by construction
    and its benched exponent read 1.09 at sf1→sf3,
    BENCH_r07_sf3_sweep_full.json; this form's work tracks near-dup
    DENSITY, not n²).

    Candidate generation: a row's key is (cluster_id, band_idx, bucket) —
    a pair is a candidate iff both members share the kmeans cluster AND
    agree on at least one LSH band. Parameterization matters enormously
    here and is chosen for the NEAR-DUP regime (threshold ≈ 0.9), not
    the audit regime: with only `rows`=3 planes a band has 8 buckets, so
    same-cluster RANDOM pairs collide at ~1/8 per band and the join
    degenerates to ~n²/8 — measured 39 s at sf1 vs 2.8 s for the exact
    Arrow all-pairs it was meant to beat. With `rows`=16 / `bands`=32 a
    random same-cluster pair (plane agreement p≈0.5) collides at
    32·2⁻¹⁶ ≈ 5·10⁻⁴ while a cosine-0.9 pair (p≈0.857) still lands in a
    shared bucket with prob 1-(1-0.857¹⁶)³² ≈ 0.94 — and true
    near-duplicates (cosine ≈ 1) with prob ≈ 1. Candidate volume then
    tracks duplicate density, the thing that is linear in corpus size.

    ``rows=None`` (the default) makes the band width ADAPTIVE:
    rows = max(16, ⌈log₂(n/k)⌉ + 4). FIXED-width banding keeps a
    quadratic term — random same-cluster pairs collide at bands·2⁻ʳᵒʷˢ,
    so candidates grow ~(n/k)²·k·bands·2⁻ʳᵒʷˢ — which the sf3→sf10
    sweep measured directly: 314K → 3.48M candidates (11× at 3.33×
    data) at rows=16, dragging the benched exponent toward 1. Growing
    rows with log₂ of the cluster population pins EXPECTED random
    collisions per vector at a constant (bands·2⁻⁴ = 2 here), i.e.
    linear candidates — the standard LSH n-scaling, not a tuned
    constant. The recall cost is confined to the threshold boundary
    (at cosine 0.9, rows 16→19 is ≈0.94→≈0.83 per the band formula);
    true near-identicals (p≈1) stay at recall ≈1 at any practical
    width. n comes from a column-pruned count of the caller's frame —
    for the registered query that is a parquet metadata count, never a
    cached frame.

    Scale shape, piece by piece:
    - assignment is the fixed-k literal-centroid codegen scan (k stays
      SMALL — the LSH bands do the fine blocking, so k does NOT need to
      grow with n; no k∝n centroid matrix, no superlinear anything);
    - assignment + bucketize are ONE fused Arrow stage (per batch: a
      bit-exact sequential-per-dimension distance accumulation → argmin,
      then a sign matmul over all bands·rows planes — the interpreted
      per-plane HOF fold would be hundreds of aggregate() evals per
      row), and scoring is a second Arrow stage over the candidates —
      no interpreted higher-order function anywhere in this plan (the
      HOF form read 8-34 s run-to-run at sf10 with ZERO spill, from
      allocation churn alone; this form's spread is in
      BENCH_r09_sf10_sweep.json);
    - the band table carries (cluster, band, bucket, id) ONLY — vectors
      are never replicated through the ×bands fan-out;
    - the self-join shuffles on the 3-part key; group sizes track bucket
      occupancy (the 2¹⁶ bucket space keeps same-cluster random
      collisions at the 10⁻⁴ level);
    - candidates join back to the normed vectors (two id-hash shuffles
      of density-linear candidate lists) and score in the second Arrow
      stage (``score_pairs``): a numpy SEQUENTIAL per-dimension fold —
      dot and both norms accumulate in dimension order, vectorized
      across pairs — bit-identical to the JVM zip_with/aggregate cosine
      fold (pinned vs the exact form in tests/test_kmeans.py) without
      the fold's per-row interpreted-HOF allocation churn.

    Output: (id_a, id_b, cosine), id_a < id_b, cosine ≥ threshold —
    same contract as semantic_neardup_pairs*, minus the pairs LSH
    misses (recall audited in tests/test_kmeans.py against the exact
    within-cluster form).
    """
    import math

    if rows is None:
        # ``n_total``: a caller that already knows the corpus row
        # count (e.g. from the Parquet footer, catalog.footer) passes it
        # and the plan builder stays action-free; otherwise fall back to
        # the column-pruned count job.
        if n_total is None:
            n_total = df.select(id_col).count()
        rows = max(16, math.ceil(math.log2(max(n_total / k, 2))) + 4)

    import numpy as np
    import pandas as pd

    from nhl_data_pipeline_spark.operators.similarity import hyperplanes

    cents = np.array(
        init_centroids(df, k, vec=vec, id_col=id_col), dtype=np.float64
    )
    planes = np.array(hyperplanes(dim, bands * rows), dtype=np.float64)

    # ONE Arrow stage does assignment + bucketize: the
    # interpreted HOF forms — the per-row zip_with/aggregate squared-L2
    # fold over k centroids for assignment, and the per-candidate
    # zip_with/aggregate cosine fold for scoring — were this query's
    # dominant cost AND its variance at sf10 (8-34 s run-to-run with
    # zero spill: interpreted HOF evaluation allocates per row/lambda,
    # churning old-gen).
    # Distances use the SAME sequential per-dimension accumulation as
    # the JVM fold (acc += (v_d - c_d)² in dim order, vectorized across
    # rows) so argmin — np.argmin's first-minimum matches
    # array_position(array_min)'s lowest-cluster tiebreak — reproduces
    # assign_clusters bit-for-bit; bucket signs use one BLAS matmul
    # (nothing pins them — recall is statistical, audited by test).
    band_schema = f"{id_col} long, band_idx int, bucket long, cluster_id int"

    def assign_bucketize(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            v = np.array(list(pdf[vec]), dtype=np.float64)
            d2 = np.zeros((v.shape[0], k))
            for c in range(k):
                acc = np.zeros(v.shape[0])
                for dd in range(dim):
                    t = v[:, dd] - cents[c, dd]
                    acc += t * t
                d2[:, c] = acc
            cluster = d2.argmin(axis=1).astype(np.int32)
            bits = ((v @ planes.T) > 0.0).astype(np.int64)
            frames = []
            for b in range(bands):
                bucket = sum(bits[:, b * rows + r] << r for r in range(rows))
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: ids,
                            "band_idx": np.full(ids.shape, b, dtype=np.int32),
                            "bucket": bucket,
                            "cluster_id": cluster,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    # id-hash repartition BEFORE the Arrow stages: a single-file parquet
    # read is one partition → one Python worker doing all the numpy work
    # serially (measured: 10 s vs ~1 s spread over the cluster). Hashing
    # on the id (not round-robin) lets the scoring join below reuse the
    # distribution.
    src = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    ).select(F.col(id_col), F.col(vec))
    # Persisted: the band table feeds BOTH self-join sides — without it
    # the assignment+bucketize stage runs twice (same pattern as
    # minhash_band_pairs' bands.persist()). Rotated per call like the
    # blocked form's assignment cache, so a long-lived session holds one
    # cached band table instead of one per call.
    banded = _rotate_cache(
        "_LAST_BANDED", src.mapInPandas(assign_bucketize, band_schema)
    )
    # Keys ahead of the id: band_pairs keeps the frame's column order, and
    # keys-first is the join-side order docs/PLANS.md pins for this plan.
    keys = ["cluster_id", "band_idx", "bucket"]
    cand = band_pairs(
        banded.select(*keys, id_col), keys, id_col, ("id_a", "id_b")
    )
    va = src.select(F.col(id_col).alias("id_a"), F.col(vec).alias("va"))
    vb = src.select(F.col(id_col).alias("id_b"), F.col(vec).alias("vb"))
    scored_schema = "id_a long, id_b long, cosine double"
    thr = float(threshold)

    def score_pairs(batches):
        # Bit-identical to the JVM fold (the cosine_allpairs_numpy
        # idiom): dot and both norms accumulate sequentially in
        # dimension order, vectorized across the candidate pairs.
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.array(list(pdf["va"]), dtype=np.float64)
            y = np.array(list(pdf["vb"]), dtype=np.float64)
            dot_ = np.zeros(len(pdf))
            nx = np.zeros(len(pdf))
            ny = np.zeros(len(pdf))
            for dd in range(dim):
                dot_ += x[:, dd] * y[:, dd]
                nx += x[:, dd] * x[:, dd]
                ny += y[:, dd] * y[:, dd]
            cos = dot_ / (np.sqrt(nx) * np.sqrt(ny))
            keep = cos >= thr
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy(dtype=np.int64)[keep],
                    "id_b": pdf["id_b"].to_numpy(dtype=np.int64)[keep],
                    "cosine": cos[keep],
                }
            )

    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", "va", "vb")
        .mapInPandas(score_pairs, scored_schema)
    )

