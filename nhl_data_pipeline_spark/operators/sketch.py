"""Count-min sketch over token streams: sublinear heavy-hitter counting.

At 100 TB an exact token-frequency table IS computable (one groupBy), but
the moment frequencies feed a low-latency consumer — per-batch stop-token
detection in streaming ingest, frequency floors inside the stop-shingle
cap, dashboard heavy-hitter views — a fixed-size summary beats shipping a
billion-row table. The CMS is d×w counters (here 4×256 = ≤1024 rows,
whatever the corpus size): ESTIMATE(t) = min over rows i of
counter[i][h_i(t)], always ≥ the true count, overshooting by ≤ 2N/w with
probability ≥ 1 - 2^-d per query.

Build = one explode + d small groupBys (map-side combinable, merged by
UNION) — the sketch table is engine-portable because the hash rows are
md5-prefix buckets ("row|token" → first 2 hex chars = 256 buckets), the
same deterministic-hash idiom as the samplers, so the DuckDB twin builds
the IDENTICAL sketch (asserted row-for-row in tests). Sketches from
disjoint corpus shards merge by cell-wise addition (a groupBy-sum over
their union) — the property that makes the operator
streaming/partition-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

D_ROWS = 4
W_BUCKETS = 256  # first 2 hex chars of md5


def _bucket(row_i: int, token: Column) -> Column:
    return F.substring(F.md5(F.concat(F.lit(f"{row_i}|"), token)), 1, 2)


def _bucket_sql(row_i: int, token_expr: str) -> str:
    return f"substr(md5('{row_i}|' || {token_expr}), 1, 2)"


def cms_build(
    docs: DataFrame, *, text_col: str = "text"
) -> DataFrame:
    """(row_i, bucket, n): the d×w counter table (≤ d·w rows, any corpus).

    ONE corpus scan: each token explodes into its d (row_i, bucket)
    cells and a single map-side-combinable groupBy counts them (a
    per-sketch-row union of groupBys would rescan and retokenize the
    corpus d times)."""
    from nhl_data_pipeline_spark.operators.text import tokens

    tok = docs.select(F.explode(tokens(F.col(text_col))).alias("t")).filter(
        F.length("t") > 0
    )
    cells = tok.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_i"),
                        _bucket(i, F.col("t")).alias("bucket"),
                    )
                    for i in range(D_ROWS)
                ]
            )
        ).alias("cell")
    )
    return cells.groupBy("cell.row_i", "cell.bucket").agg(
        F.count(F.lit(1)).alias("n")
    )


def cms_build_sql(*, table: str = "documents", text_col: str = "text") -> str:
    """DuckDB twin of :func:`cms_build` — identical counter table."""
    toks = f"string_split_regex({text_col}, '\\s+')"
    arms = "\n UNION ALL ".join(
        f"""
        SELECT {i} AS row_i, {_bucket_sql(i, 't')} AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest({toks}) AS t FROM {table})
        WHERE length(t) > 0 GROUP BY 2
        """
        for i in range(D_ROWS)
    )
    return arms


def cms_estimate(sketch: DataFrame, queries: DataFrame, *, token_col: str = "token") -> DataFrame:
    """(token, est): min-over-rows counter lookup per query token.

    The sketch is ≤ d·w rows → broadcast; estimation is a map-side join
    however many tokens are probed."""
    probes = queries.select(token_col).distinct()
    per_row = probes.select(
        token_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_i"),
                        _bucket(i, F.col(token_col)).alias("bucket"),
                    )
                    for i in range(D_ROWS)
                ]
            )
        ).alias("cell"),
    ).select(token_col, "cell.row_i", "cell.bucket")
    return (
        per_row.join(F.broadcast(sketch), ["row_i", "bucket"], "left")
        .groupBy(token_col)
        .agg(F.min(F.coalesce("n", F.lit(0))).alias("est"))
    )

