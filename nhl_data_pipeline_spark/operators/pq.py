"""Product quantization: compress embeddings to m small codes for ANN.

The memory side of vector search at 100 TB: a 64-dim float32 embedding is
256 bytes; its PQ code here is m=8 sub-codes of k=16 centroids — 8 nibbles
= 4 bytes, a 64× compression — and approximate distances are computed
FROM THE CODES without touching the original vectors (asymmetric distance
computation, ADC). This is the missing piece between the exact/IVF/LSH
similarity family and a corpus whose raw vectors don't fit hot storage:
IVF prunes WHICH vectors to score, PQ shrinks WHAT is scored.

Spark-first shape:
- TRAIN: per-subspace k-means reuses operators/kmeans.py verbatim over
  `slice(embedding, ...)` projections — m small driver-held codebooks
  (m·k·(dim/m) floats), the same legitimate small-state pattern as IVF
  centroids;
- ENCODE: one codegen projection — per subspace, the literal-codebook
  argmin (first-min tiebreak) emits the sub-code; no joins, no Python,
  deterministic across partitionings (decimal-exact k-means update);
- ADC SCORE: the query's m×k distance table is precomputed driver-side
  and embedded as literal arrays; each row's estimated distance is m
  element_at lookups + adds — a pure scan, no vector arithmetic per row.

Guarantee shape (tested): ADC distance → exact distance as codebooks
grow; at (m=8, k=16) on the synthetic embeddings the ADC top-k overlaps
the exact top-k well above chance, and encoding is partitioning-invariant.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.operators import kmeans as KM

Codebooks = list[list[list[float]]]  # [subspace][centroid][dim]


def _subvec(vec: str, j: int, sub_dim: int) -> Column:
    return F.slice(F.col(vec), j * sub_dim + 1, sub_dim)


def train_codebooks(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 3,
    *,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> Codebooks:
    """m per-subspace codebooks via the decimal-exact k-means operator."""
    dim = len(df.select(vec).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_dim = dim // m
    books: Codebooks = []
    for j in range(m):
        sub = df.select(id_col, _subvec(vec, j, sub_dim).alias("sub"))
        books.append(KM.kmeans(sub, k, n_iter, vec="sub", id_col=id_col)[1])
    return books


def _code_expr(vec: str, j: int, sub_dim: int, book: list[list[float]]) -> Column:
    dists = F.transform(
        KM._lit_matrix(book), lambda c: KM._sq_dist(_subvec(vec, j, sub_dim), c)
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def encode(
    df: DataFrame,
    books: Codebooks,
    *,
    vec: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pq_code",
) -> DataFrame:
    """(id, pq_code array<int> of length m) — one codegen projection."""
    m = len(books)
    sub_dim = len(books[0][0])
    return df.select(
        F.col(id_col),
        F.array(
            *[_code_expr(vec, j, sub_dim, books[j]) for j in range(m)]
        ).alias(out_col),
    )


def encode_numpy(
    df: DataFrame,
    books: Codebooks,
    *,
    vec: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pq_code",
) -> DataFrame:
    """Arrow-vectorized :func:`encode` — bit-identical codes, ~none of the
    per-row cost.

    The codegen form's 128 sq-dist folds per row are HOF lambdas, which
    Spark evaluates INTERPRETED (lambda-bearing expressions are excluded
    from whole-stage codegen), and unrolling them into literal arithmetic
    trips the >1k-node codegen cliff measured in kmeans._sq_dist_lit.
    This pandas_udf computes all n×m×k sub-distances per Arrow batch with
    the same dimension-ORDERED accumulation as the fold
    (`acc += diff*diff`, one dim at a time — sequential IEEE adds, never
    np.sum's pairwise tree) and `(a-b)*(a-b)` (never **2 → libm pow), so
    every distance is bit-identical to the JVM fold and np.argmin's
    first-minimum matches array_position(array_min) exactly
    (tests/test_pq.py::test_encode_numpy_bit_identical; oracle parity
    re-verified at sf0.01 AND sf1). Measured, pq_adc_topk end to end:
    2.38 → 0.67 s at sf0.1, 4.92 → 0.86 s at sf1 (same-session
    median-of-3 A/B) — the encode stops being the query's dominant cost
    and the remaining time is scan + window top-k.
    """
    from pyspark.sql.functions import pandas_udf

    m = len(books)
    sub_dim = len(books[0][0])
    cents = [np.asarray(b, dtype=np.float64) for b in books]  # (k, sub_dim)

    @pandas_udf("array<int>")
    def _enc(col: pd.Series) -> pd.Series:
        if not len(col):
            # An empty Arrow batch would make np.array(list(col)) 1-D
            # (0,)-shaped and the 2-D index below raise IndexError.
            return pd.Series([], dtype=object)
        mat = np.array(list(col), dtype=np.float64)  # (n, dim)
        n = len(mat)
        codes = np.empty((n, m), dtype=np.int32)
        for j in range(m):
            acc = np.zeros((n, len(cents[j])))
            for d in range(sub_dim):
                diff = mat[:, j * sub_dim + d, None] - cents[j][None, :, d]
                acc += diff * diff
            codes[:, j] = np.argmin(acc, axis=1)  # first-min, like the fold
        return pd.Series(list(codes))

    return df.select(F.col(id_col), _enc(F.col(vec)).alias(out_col))


def adc_dist_column(
    query: list[float], books: Codebooks, *, code_col: str = "pq_code"
) -> Column:
    """Estimated squared-L2 distance query↔each coded row (lower =
    closer), as a bare Column over an existing ``code_col``. The m×k
    lookup table is computed in Python float64 and embedded as literals;
    per row the scan does m element_at + adds. A bare Column
    lets a caller append the score to the coded frame in the SAME
    projection (``coded.withColumn(..)``) instead of re-encoding and
    self-joining on the id (encode is the expensive stage; computing it
    once halves the query)."""
    m = len(books)
    sub_dim = len(books[0][0])
    terms = []
    for j in range(m):
        q_sub = query[j * sub_dim : (j + 1) * sub_dim]
        # (a-b)*(a-b), NOT (a-b)**2: CPython's ** routes through libm pow,
        # which differs from the plain multiply by 1 ulp on some inputs —
        # the JVM/DuckDB sq-dist twin multiplies, and the ADC lookup table
        # must be bit-identical to it (measured: 2/128 cells diverge).
        table = [
            sum(
                (float(a) - float(b)) * (float(a) - float(b))
                for a, b in zip(q_sub, cent)
            )
            for cent in books[j]
        ]
        # The m×k LUT is rendered as ONE SQL expression (r12 chatter pass):
        # the per-cell F.lit build cost ~900 py4j round trips per query
        # build. repr(float) round-trips through Java's Double.parseDouble
        # to the identical IEEE-754 bits, so the literal arrays — and the
        # plan — are unchanged. Guarded: a non-finite cell would need the
        # old path (repr forms Spark SQL can't parse as a D-literal).
        assert all(v == v and abs(v) != float("inf") for v in table)
        lut = "array(" + ", ".join(f"{v!r}D" for v in table) + ")"
        terms.append(
            f"element_at({lut}, element_at({code_col}, {j + 1}) + 1)"
        )
    return F.expr("(" + " + ".join(terms) + ")")
