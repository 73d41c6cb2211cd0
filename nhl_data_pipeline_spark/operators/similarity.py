"""Vector-similarity operators over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; IVF (inverted-file) probing
is the scale path — centroids partition the corpus so each query scans only
`nprobe` buckets. Dot products run as JVM higher-order functions
(zip_with + aggregate), summing left-to-right in float64 — bit-reproducible
and engine-portable; no Python in the row loop.

At 100 TB: the candidate side is bucketed/partitioned by centroid id, so an
ANN query is a partition-pruned scan + top-k (TakeOrdered) — no global sort,
no crossJoin of the full corpus. The JVM form is the one exact top-k: a
numpy-matmul top-k over Arrow batches measured slower at 2K vectors
(BENCH_probes.json::ann_scale_probe).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def norm_sql(a: str) -> str:
    return (
        f"sqrt(list_sum(list_transform({a},"
        f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )


def dot_expr_sql(a: str, b: str) -> str:
    """Float64 dot product of two array expressions, summed left to right,
    as one Spark-SQL string (a Column-API build of the same fold costs ~10
    py4j round trips). :func:`dot_sql` is the DuckDB twin."""
    return (
        f"aggregate(zip_with({a}, {b},"
        f" (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm_expr_sql(a: str) -> str:
    """L2 norm of an array expression, the same left fold under sqrt.
    :func:`norm_sql` is the DuckDB twin."""
    return (
        f"sqrt(aggregate(transform({a},"
        f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )


def with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    """Precompute norms once — reused across every query/centroid pairing."""
    return df.withColumn("nrm", F.expr(norm_expr_sql(vec)))


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k neighbors per query.

    queries is broadcast (small by construction); candidates stream through
    one BroadcastNestedLoopJoin; per-query top-k is a window rank with the
    candidate id as tiebreak. Returns (query_id, neighbor_id, rank, cosine).
    """
    q = queries.selectExpr(
        f"{id_col} AS query_id",
        f"{vec} AS q_vec",
        f"{norm_expr_sql(vec)} AS q_nrm",
    )
    c = candidates.selectExpr(
        f"{id_col} AS neighbor_id",
        f"{vec} AS c_vec",
        f"{norm_expr_sql(vec)} AS c_nrm",
    )
    scored = c.join(F.broadcast(q)).selectExpr(
        "query_id",
        "neighbor_id",
        f"{dot_expr_sql('q_vec', 'c_vec')} / (q_nrm * c_nrm) AS cosine",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def cosine_allpairs_numpy(
    df: DataFrame,
    threshold: float,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold, vectorized AND bit-identical to
    the sequential JVM fold (a plain matmul is not).

    The JVM/DuckDB dot is `0.0 + a₀b₀ + a₁b₁ + …` left-to-right in float64;
    matmul/np.dot use SIMD pairwise summation, which differs in the last
    ulp. Here the accumulation is an explicit loop over DIMENSIONS —
    `acc += A[:, k] * B[:, k]` — i.e. sequential adds in index order,
    vectorized across PAIRS, so every intermediate is the same IEEE op the
    fold performs and the cosine bits (and therefore the ≥-threshold pair
    SET) match exactly. Norms use the same per-dimension loop under sqrt.

    One side is collected and closed over (this is the O(n²) exact
    baseline — it presumes one broadcastable side, exactly like the BNLJ
    it replaces; the scale path is the banded hyperplane LSH). Each Arrow
    batch scores batch×n pairs at C speed and emits only survivors, with
    the id< guard dropping mirrored/self pairs.

    Parallelism: the streamed side is hash-REPARTITIONED across the
    session's cores and scored in ≤1024-row chunks — the sf1 lake is one
    parquet file, so without the exchange ONE python worker scored all
    20K×20K pairs through a 3.2 GB-per-dimension-pass intermediate
    (~205 GB of memory traffic, 16+ min single-core; chunked+parallel:
    ~1 min, and the per-task intermediate is capped at
    1024×n×8 B). Values are partitioning- and chunk-invariant by
    construction — every pair's dot is the same dimension-ordered
    scalar chain regardless of which task/chunk computes it.
    """
    import numpy as np
    import pandas as pd

    out_schema = "vec_a long, vec_b long, cosine double"
    rows = df.select(id_col, vec).collect()
    if not rows:
        # An empty table would make b_mat (0,)-shaped and the 2-D
        # shape[1] below raise IndexError (same guard as pq.encode_numpy).
        return df.sparkSession.createDataFrame([], out_schema)
    b_ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    b_mat = np.array([r[vec] for r in rows], dtype=np.float64)  # f32→f64 exact
    dim = b_mat.shape[1]

    def seq_sq_norm(m: np.ndarray) -> np.ndarray:
        acc = np.zeros(m.shape[0])
        for k in range(dim):
            acc += m[:, k] * m[:, k]
        return acc

    b_nrm = np.sqrt(seq_sq_norm(b_mat))

    def score(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), 1024):
                chunk = pdf.iloc[lo : lo + 1024]
                if chunk.empty:
                    continue
                a_ids = chunk[id_col].to_numpy(dtype=np.int64)
                a_mat = np.array(list(chunk[vec]), dtype=np.float64)
                a_nrm = np.sqrt(seq_sq_norm(a_mat))
                acc = np.zeros((a_mat.shape[0], b_mat.shape[0]))
                for k in range(dim):
                    acc += a_mat[:, k : k + 1] * b_mat[None, :, k]
                cos = acc / (a_nrm[:, None] * b_nrm[None, :])
                ai, bi = np.nonzero(
                    (cos >= threshold) & (a_ids[:, None] < b_ids[None, :])
                )
                yield pd.DataFrame(
                    {
                        "vec_a": a_ids[ai],
                        "vec_b": b_ids[bi],
                        "cosine": cos[ai, bi],
                    }
                )

    sc = df.sparkSession.sparkContext
    return (
        df.select(id_col, vec)
        .repartition(sc.defaultParallelism, id_col)
        .mapInPandas(score, out_schema)
    )


# ------------------------------------------------- hyperplane LSH buckets


@functools.lru_cache(maxsize=None)
def hyperplanes(dim: int, planes: int = 8) -> tuple[tuple[float, ...], ...]:
    """Deterministic ±1 hyperplane matrix: component i of plane j is the
    parity of md5(f"{j}|{i}"). Generated driver-side and embedded as
    literals in both engines, so there is no RNG state to reproduce.
    Memoized on (dim, planes): a 64 × 512 table is 32,768 md5 digests per
    build otherwise. Tuples, so no caller can mutate the shared table."""
    import hashlib

    return tuple(
        tuple(
            1.0 if int(hashlib.md5(f"{j}|{i}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1.0
            for i in range(dim)
        )
        for j in range(planes)
    )


def _plane_lit(plane: tuple[float, ...]) -> str:
    return "array(" + ", ".join(f"{c:.1f}D" for c in plane) + ")"


def hyperplane_band_buckets(
    vec_col: str, dim: int, bands: int = 8, rows: int = 3
) -> Column:
    """Array of `bands` bucket ids, band b using planes [b·rows, (b+1)·rows).

    A single AND-bucket of k planes has recall p^k (p = 1 − θ/π per plane)
    — near zero for moderate thresholds. Banding restores it the standard
    way: candidates agree on ANY band, recall 1 − (1 − p^rows)^bands
    (≈0.9 at cosine 0.4 with 8×3). Same construction as the MinHash LSH
    banding.

    SQL text with UNIQUE lambda variables per plane: repeating
    python-lambda higher-order functions inside one expression makes
    Spark's sibling lambda variables collide and silently corrupt values.
    Dots sum left-to-right in float64, bit-identical to the DuckDB form, so
    bucket ids agree across engines even for near-zero dots."""
    all_planes = hyperplanes(dim, bands * rows)
    band_exprs = []
    for b in range(bands):
        terms = []
        for r in range(rows):
            j = b * rows + r
            d = (
                f"aggregate(zip_with({vec_col}, {_plane_lit(all_planes[j])},"
                f" (x{j}, y{j}) -> CAST(x{j} AS DOUBLE) * y{j}),"
                f" CAST(0.0 AS DOUBLE), (a{j}, v{j}) -> a{j} + v{j})"
            )
            terms.append(f"CASE WHEN {d} > 0.0D THEN {2 ** r}L ELSE 0L END")
        band_exprs.append("(" + " + ".join(terms) + ")")
    return F.expr("array(" + ", ".join(band_exprs) + ")")


def hyperplane_band_buckets_sql(
    vec_expr: str, dim: int, bands: int = 8, rows: int = 3
) -> str:
    all_planes = hyperplanes(dim, bands * rows)
    band_exprs = []
    for b in range(bands):
        terms = []
        for r in range(rows):
            j = b * rows + r
            lit = "[" + ", ".join(f"{c:.1f}" for c in all_planes[j]) + "]"
            d = (
                f"list_sum(list_transform(list_zip({vec_expr}, {lit}),"
                f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
            )
            terms.append(
                f"CASE WHEN {d} > 0.0 THEN CAST({2 ** r} AS BIGINT)"
                f" ELSE CAST(0 AS BIGINT) END"
            )
        band_exprs.append("(" + " + ".join(terms) + ")")
    return "[" + ", ".join(band_exprs) + "]"
