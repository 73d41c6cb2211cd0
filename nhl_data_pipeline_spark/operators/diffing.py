"""Snapshot diffing: content-aware churn between two corpus versions.

The audit step between pipeline runs: after a re-crawl or a reprocessing
job, how many documents were added, removed, changed, or carried through
untouched? Plain row counts can't tell a changed doc from an
added+removed pair; diffing joins the two snapshots on the document id
and compares content FINGERPRINTS (16-byte md5, never the text), so the
full-outer join moves (id, fp) pairs only — at 100 TB this is two narrow
scans and one join however large the documents are.

The two snapshots are any two reads of the corpus (for example two
dated parquet directories); `operators/text.fingerprint` is the content
key. The per-doc statuses feed data-quality gates ("a reprocess that
CHANGES >1% of docs needs sign-off") and incremental downstream
refreshes (recompute only added ∪ changed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: Column,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, status) for every id in either snapshot.

    status ∈ {'added', 'removed', 'changed', 'unchanged'}; `key` is the
    content fingerprint expression evaluated on each side.
    """
    # Presence is tracked with explicit per-side markers, NOT fingerprint
    # nullability: a doc whose fingerprint expression evaluates to NULL
    # (e.g. null text -> md5 NULL) is still PRESENT on its side, and the
    # SQL twin's id-based test must agree row-for-row.
    o = old.select(
        F.col(id_col), key.alias("_fp_old"), F.lit(True).alias("_in_old")
    )
    n = new.select(
        F.col(id_col), key.alias("_fp_new"), F.lit(True).alias("_in_new")
    )
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") == F.col("_fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(id_col, status.alias("status"))


def snapshot_diff_sql(
    *,
    old_table: str,
    new_table: str,
    key_expr: str,
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`snapshot_diff` (same rows/columns)."""
    return f"""
        SELECT COALESCE(o.{id_col}, n.{id_col}) AS {id_col},
               CASE WHEN o.{id_col} IS NULL THEN 'added'
                    WHEN n.{id_col} IS NULL THEN 'removed'
                    WHEN o._fp = n._fp THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM (SELECT {id_col}, {key_expr} AS _fp FROM {old_table}) o
        FULL OUTER JOIN (SELECT {id_col}, {key_expr} AS _fp FROM {new_table}) n
          ON o.{id_col} = n.{id_col}
    """
