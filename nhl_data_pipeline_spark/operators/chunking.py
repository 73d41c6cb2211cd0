"""Fixed-token document chunking with overlap.

The context-window preparation stage of an embedding / training pipeline:
long documents are split into chunks of ``chunk_tokens`` whitespace tokens,
consecutive chunks sharing ``overlap`` tokens so no boundary sentence is
seen without context. Complements `plans/q_text.py::sequence_packing`
(which CONCATENATES short docs up to a budget); chunking SPLITS long docs
down to one.

Scale shape: pure per-row whole-stage codegen — posexplode over a
``sequence(...)`` of chunk starts, ``slice`` of the tokens array,
``array_join`` back to text. No shuffle, no Python, fan-out per doc is
⌈(n_tok − overlap) / stride⌉, linear in document length. At 100 TB this
is a map stage that pipelines into whatever scan feeds it; the only
planning concern is downstream partition sizing after the fan-out, which
is AQE's coalesce/split job.

Determinism: chunk boundaries are a pure function of the token array, so
chunked output is stable across partitionings and engines — the DuckDB
twin in tests/test_chunking.py reproduces it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.operators.text import tokens


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 512,
    overlap: int = 64,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, chunk_id, n_chunks, n_tokens, chunk_text) — one row per chunk.

    Chunk i covers token positions [i·stride, i·stride + chunk_tokens)
    where stride = chunk_tokens − overlap; the final chunk may be short
    but is never empty, and a trailing window that would start inside the
    previous chunk's un-overlapped span is not emitted (i.e. n_chunks =
    max(1, ⌈(n_tok − overlap) / stride⌉) for non-empty docs). Docs with
    zero tokens produce no rows — curation drops them earlier anyway.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.filter(tokens(F.col(text_col)), lambda t: F.length(t) > 0)
    n_tok = F.size("_toks")
    # ceil((n_tok - overlap) / stride), floored at 1 for any non-empty doc
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n_tok - F.lit(overlap)) / F.lit(stride)).cast("int"),
    )
    return (
        docs.select(id_col, toks.alias("_toks"))
        .filter(F.size("_toks") > 0)
        .select(
            id_col,
            n_tok.cast("int").alias("n_tokens"),
            n_chunks.alias("n_chunks"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice(
                            F.col("_toks"),
                            i * stride + 1,
                            F.lit(chunk_tokens),
                        ),
                        " ",
                    ),
                )
            ).alias("chunk_id", "chunk_text"),
        )
        .select(id_col, "chunk_id", "n_chunks", "n_tokens", "chunk_text")
    )


def length_bucketed_batches(
    docs: DataFrame,
    batch_size: int = 32,
    bin_width: int = 16,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens, bin, batch_id) — inference batches grouped by token
    length so each batch pads to its own max, not the corpus max.

    A batch of mixed lengths wastes compute on padding: cost is
    batch_size × max(len). Binning by ⌊n_tokens / bin_width⌋ and batching
    WITHIN a bin bounds per-row padding waste to bin_width − 1 tokens.
    batch_id is globally unique ((bin, seq) packed) and DETERMINISTIC:
    rows order by (n_tokens, id) inside their bin, so a re-run on any
    partitioning emits identical batches.

    Scale shape: one exchange (the bin-partitioned window); no driver
    state. The window's per-bin sort is the padding-efficiency price —
    at 100 TB partition by a shard key first and batch within shards so
    each sort is shard-local.
    """
    from pyspark.sql.window import Window

    n_tok = F.size(
        F.filter(tokens(F.col(text_col)), lambda t: F.length(t) > 0)
    )
    binned = docs.select(
        id_col, n_tok.cast("int").alias("n_tokens")
    ).withColumn("bin", F.floor(F.col("n_tokens") / bin_width).cast("int"))
    w = Window.partitionBy("bin").orderBy("n_tokens", id_col)
    return binned.withColumn(
        "batch_id",
        F.col("bin").cast("bigint") * 1_000_000_000
        + F.floor((F.row_number().over(w) - 1) / batch_size),
    )


def length_bucketed_batches_sql(
    batch_size: int = 32,
    bin_width: int = 16,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`length_bucketed_batches`."""
    toks = (
        f"list_filter(string_split_regex({text_col}, '\\s+'), "
        "t -> length(t) > 0)"
    )
    return f"""
        WITH sized AS (
            SELECT {id_col}, CAST(len({toks}) AS INT) AS n_tokens
            FROM {table}
        ),
        binned AS (
            SELECT {id_col}, n_tokens,
                   CAST(floor(n_tokens / CAST({bin_width} AS DOUBLE)) AS INT)
                       AS bin
            FROM sized
        )
        SELECT {id_col}, n_tokens, bin,
               CAST(bin AS BIGINT) * 1000000000
                   + CAST(floor((row_number() OVER
                         (PARTITION BY bin ORDER BY n_tokens, {id_col})
                         - 1) / {batch_size}) AS BIGINT) AS batch_id
        FROM binned
    """


def chunk_documents_sql(
    chunk_tokens: int = 512,
    overlap: int = 64,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`chunk_documents` (same columns, same rows)."""
    stride = chunk_tokens - overlap
    toks = (
        f"list_filter(string_split_regex({text_col}, '\\s+'), "
        "t -> length(t) > 0)"
    )
    return f"""
        WITH t AS (
            SELECT {id_col}, {toks} AS toks FROM {table}
        ),
        sized AS (
            SELECT {id_col}, toks,
                   CAST(len(toks) AS INT) AS n_tokens,
                   CAST(greatest(1, ceil((len(toks) - {overlap}) /
                        CAST({stride} AS DOUBLE))) AS INT) AS n_chunks
            FROM t WHERE len(toks) > 0
        )
        SELECT {id_col},
               CAST(i AS INT) AS chunk_id,
               n_chunks, n_tokens,
               array_to_string(
                   list_slice(toks, i * {stride} + 1,
                              i * {stride} + {chunk_tokens}), ' ')
                   AS chunk_text
        FROM sized, unnest(generate_series(0, n_chunks - 1)) AS g(i)
    """
