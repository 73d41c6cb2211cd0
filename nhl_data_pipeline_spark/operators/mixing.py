"""Domain-mixture sampling: hit a token budget at a target source mix.

The pretraining-data composition primitive (reference analog: the curated
multi-source bronze layer — `src/nhl_pipeline/ingestion/fetch_odds_props.py`
and its sibling fetchers each pull one source's slice; generalized here to
the weighted-mixture form every LLM data pipeline needs): given per-source target weights and a total token budget,
derive one keep-rate per source from the corpus's actual per-source token
counts, then sample deterministically at that rate.

Two stages, both scale-safe at 100 TB:
1. per-source token totals — one map-side-combinable groupBy over a
   projection of (source, n_tokens); output is O(#sources) rows;
2. the rates table is broadcast back and the keep decision is a pure
   function of the row key (md5-prefix threshold, the same engine-portable
   trick as the stratified sampler): no rand()/seed plumbing, identical
   output on Spark and DuckDB, across retries and repartitionings.

Rows from sources with weight 0 are dropped; a source whose target
allocation exceeds its actual tokens keeps everything (rate clamps to 1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 16^8: the sample key is the first 8 hex chars of md5(key) compared
# against lower(hex(floor(rate * 16^8))) — a hex fraction with 32 bits of
# resolution.
_KEY_SPACE = float(1 << 32)


def weight_expr(weights: dict[str, float], source_col: str = "source") -> Column:
    """CASE-literal target weight per source (0.0 for unlisted sources)."""
    expr = None
    for src, w in weights.items():
        cond = F.col(source_col) == src
        expr = F.when(cond, F.lit(w)) if expr is None else expr.when(cond, F.lit(w))
    return expr.otherwise(F.lit(0.0)) if expr is not None else F.lit(0.0)


def weight_sql(weights: dict[str, float], source_col: str = "source") -> str:
    arms = " ".join(f"WHEN '{s}' THEN {w!r}" for s, w in weights.items())
    return f"CASE {source_col} {arms} ELSE 0.0 END"


def rate_to_threshold(rate: Column) -> Column:
    """Hex-string threshold for an (exclusive) rate in [0, 1).

    Callers must special-case rate >= 1 (keep-all): lpad would TRUNCATE the
    9-char hex of 16^8 and silently sample at ~rate/16.
    """
    return F.lower(
        F.lpad(F.hex(F.floor(rate * F.lit(_KEY_SPACE)).cast("bigint")), 8, "0")
    )


def rate_to_threshold_sql(rate_expr: str) -> str:
    return (
        f"lower(lpad(hex(CAST(floor(({rate_expr}) * {_KEY_SPACE!r}) AS BIGINT)),"
        f" 8, '0'))"
    )


def sample_key(id_col: Column | str) -> Column:
    """8-hex-char deterministic uniform key of the row id."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(F.md5(c.cast("string")), 1, 8)


def sample_key_sql(id_expr: str) -> str:
    return f"substr(md5(CAST({id_expr} AS VARCHAR)), 1, 8)"


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    *,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    tokens_col: Column | None = None,
) -> DataFrame:
    """Sample ``docs`` to ≈``token_budget`` tokens at the ``weights`` mix.

    ``tokens_col`` is the per-row token count expression; it defaults to
    the whitespace tokenizer length over ``text_col`` (parameterized like
    id_col/source_col, so renamed text columns work without a custom
    tokens_col — mirrors the SQL twin's tokens_expr). Returns
    (id, source, sample_key) for kept rows — the keep decision is
    sample_key < threshold(rate_source) with
    rate_source = min(1, budget·w_s / tokens_s).
    """
    from nhl_data_pipeline_spark.operators.text import tokens

    n_toks = (
        tokens_col if tokens_col is not None else F.size(tokens(F.col(text_col)))
    )
    base = docs.select(
        F.col(id_col), F.col(source_col), n_toks.cast("long").alias("_n_toks")
    ).filter(weight_expr(weights, source_col) > 0)
    totals = base.groupBy(source_col).agg(
        F.sum("_n_toks").alias("_src_tokens")
    )
    # A weighted source with ZERO total tokens keeps everything: its rows
    # cost nothing against the token budget, and ANSI division would
    # otherwise error (the SQL twin's double division yields inf, which
    # least() clamps to 1 — this branch makes Spark match it exactly).
    rate = F.when(F.col("_src_tokens") <= 0, F.lit(1.0)).otherwise(
        F.least(
            F.lit(1.0),
            F.lit(float(token_budget))
            * weight_expr(weights, source_col)
            / F.col("_src_tokens").cast("double"),
        )
    )
    keyed = base.join(F.broadcast(totals), source_col).select(
        F.col(id_col),
        F.col(source_col),
        sample_key(id_col).alias("sample_key"),
        rate.alias("_rate"),
    )
    return keyed.filter(
        (F.col("_rate") >= 1.0) | (F.col("sample_key") < rate_to_threshold(F.col("_rate")))
    ).select(id_col, source_col, "sample_key")


def mixture_sample_sql(
    weights: dict[str, float],
    token_budget: int,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    source_col: str = "source",
    tokens_expr: str = "len(string_split_regex(text, '\\s+'))",
) -> str:
    """DuckDB twin of :func:`mixture_sample` (same columns, same rows)."""
    w = weight_sql(weights, source_col)
    rate = f"least(1.0, {float(token_budget)!r} * {w} / CAST(_src_tokens AS DOUBLE))"
    return f"""
        WITH base AS (
            SELECT {id_col}, {source_col},
                   CAST({tokens_expr} AS BIGINT) AS _n_toks
            FROM {table}
            WHERE {w} > 0
        ),
        totals AS (
            SELECT {source_col}, sum(_n_toks) AS _src_tokens
            FROM base GROUP BY 1
        ),
        keyed AS (
            SELECT b.{id_col}, b.{source_col},
                   {sample_key_sql(f'b.{id_col}')} AS sample_key,
                   {rate} AS _rate
            FROM base b JOIN totals t USING ({source_col})
        )
        SELECT {id_col}, {source_col}, sample_key
        FROM keyed
        WHERE _rate >= 1.0 OR sample_key < {rate_to_threshold_sql('_rate')}
    """

