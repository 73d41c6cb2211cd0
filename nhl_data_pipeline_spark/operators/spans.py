"""Exact duplicate-span detection and removal (substring-level dedup).

Document- and line-level dedup (operators/dedup.py, operators/lines.py)
miss the common web-corpus failure mode where *parts* of documents are
repeated verbatim — quoted paragraphs, licence blocks, templated
sections — inside otherwise-unique pages. The exact-substring pass
(Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better") finds every n-token window whose exact text occurs ≥
``min_count`` times anywhere in the corpus and merges overlapping
windows into maximal spans.

The reference pipeline has no analog (its dedup surface is the
snapshot-level ROW_NUMBER pattern, `dbt_nhl/models/staging/stg_games.sql:32`);
this is a beyond-reference LLM-curation operator, same family as
operators/lines.py.

Scale shape (the 100 TB story):
- The positional-gram explode is a map-only ~tokens× row amplification
  (no distinct — positions matter), all in one projection.
- Duplicate detection is a groupBy on an 8-byte xxhash64 gram key:
  partial (map-side) aggregation collapses each partition's repeats
  before the shuffle, so the exchange moves one (hash, count) pair per
  distinct gram per partition — never one row per token.
- Marking is a left-semi join of the positional grams against the
  duplicate-hash set on the same 8-byte key; only (doc_id, pos) pairs
  survive it.
- Island-merging is a window partitioned by doc_id — a single shuffle
  of the (small) duplicated-position set, never the corpus.
- At 100 TB the count pass can be gated by a count-min sketch
  (operators/sketch.py) to pre-filter grams whose upper-bound count is
  1, trading one cheap scan for a much smaller exact-count shuffle.

Hash note: Spark counts on xxhash64(gram) (8-byte shuffle keys); the
DuckDB twin groups on the gram string itself. A 64-bit collision could
fuse two distinct grams' counts — the same accepted ~2⁻⁶⁴ risk as the
jaccard join keys in operators/dedup.py:32.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.operators.text import tokens


def positional_grams(
    df: DataFrame,
    n: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, pos, gram_hash) — every n-token window, 1-based start position.

    NOT distinct (unlike dedup.shingles): within-doc repeats are real
    duplicate occurrences here, and each position must come back out.
    The gram text is hashed to an 8-byte key in the same projection so
    the string never reaches a shuffle.
    """
    toks = tokens(F.col(text_col))
    make = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, n))),
    )
    grams = F.when(F.size(toks) >= n, make).otherwise(
        F.array().cast("array<bigint>")
    )
    return df.select(
        F.col(id_col), F.posexplode(grams).alias("_p0", "gram_hash")
    ).select(id_col, (F.col("_p0") + 1).cast("int").alias("pos"), "gram_hash")


def duplicate_spans(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated spans: (id, span_start, span_end, span_len).

    A token position is *covered* when some n-gram window starting at or
    before it occurs ≥ min_count times corpus-wide (within-doc repeats
    count). Overlapping/adjacent covered windows merge into one maximal
    span; span_start/span_end are 1-based inclusive token indices.
    """
    grams = positional_grams(df, n, id_col=id_col, text_col=text_col)
    dups = (
        grams.groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("gram_hash")
    )
    hits = grams.join(dups, "gram_hash", "left_semi")

    # Island merge: a window is a NEW span iff it starts past every
    # previous window's exclusive end (pos + n). Running max over the
    # preceding rows, then a running sum of the new-span flags numbers
    # the islands.
    by_pos = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(
        by_pos.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "_new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    )
    with_span = flagged.withColumn("_span", F.sum("_new").over(by_pos))
    return (
        with_span.groupBy(id_col, "_span")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (n - 1)).cast("int").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def duplicate_spans_sql(
    n: int = 8,
    min_count: int = 2,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`duplicate_spans` (grams compared as strings)."""
    toks = f"string_split_regex({text_col}, '\\s+')"
    return f"""
        WITH toks AS (SELECT {id_col}, {toks} AS t FROM {table}),
        pos_t AS (
            SELECT {id_col}, t,
                   unnest(generate_series(1, len(t) - {n - 1})) AS pos
            FROM toks
        ),
        grams AS (
            SELECT {id_col}, CAST(pos AS INT) AS pos,
                   array_to_string(list_slice(t, pos, pos + {n - 1}), ' ') AS g
            FROM pos_t
        ),
        dups AS (
            SELECT g FROM grams GROUP BY g HAVING count(*) >= {min_count}
        ),
        hits AS (
            SELECT {id_col}, pos FROM grams WHERE g IN (SELECT g FROM dups)
        ),
        flagged AS (
            SELECT {id_col}, pos,
                   CASE WHEN max(pos + {n}) OVER (
                            PARTITION BY {id_col} ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) IS NULL
                     OR pos > max(pos + {n}) OVER (
                            PARTITION BY {id_col} ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        )
                   THEN 1 ELSE 0 END AS is_new
            FROM hits
        ),
        sp AS (
            SELECT {id_col}, pos,
                   sum(is_new) OVER (PARTITION BY {id_col} ORDER BY pos
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS span_id
            FROM flagged
        )
        SELECT {id_col},
               CAST(min(pos) AS INT) AS span_start,
               CAST(max(pos) + {n - 1} AS INT) AS span_end,
               CAST(max(pos) + {n - 1} - min(pos) + 1 AS INT) AS span_len
        FROM sp GROUP BY {id_col}, span_id
    """

