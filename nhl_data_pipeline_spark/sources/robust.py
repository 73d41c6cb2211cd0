"""Robust JSON ingest: corrupt-record quarantine + schema drift.

The reference guards ingest at the HTTP layer
(src/nhl_pipeline/ingestion/api_utils.py:37-47 retries and re-raises on
HTTPError/RequestException) and trusts whatever JSON lands in the lake;
at 100 TB the lake itself is the untrusted input — upstream producers
ship truncated lines, schema-drifted fields, and mixed-type columns, and
a single malformed record must neither kill a 10-hour job nor silently
vanish. This module is the engine-side contract for that:

- ``read_json_quarantine``: one pass, PERMISSIVE mode with
  ``columnNameOfCorruptRecord`` — good rows parse against the EXPLICIT
  schema (never schema inference in production: inference is a full extra
  scan and drifts run-to-run), bad rows survive as raw text in the
  quarantine column. Split into (good, quarantined) with a pushed filter;
  the quarantine frame keeps the raw line + source file for replay.
  NOTE (Spark contract): the corrupt column must be materialized
  alongside at least one other field, and filtering on it requires the
  raw column to be retained in the schema passed to the reader.
- ``drift_report``: per-batch field census (present / null-rate / type
  tag) as a tiny aggregate — the monitoring hook that catches drift
  BEFORE it breaks the silver layer.

Everything is one scan + codegen filters; quarantine adds no shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


@dataclass(frozen=True)
class QuarantineSplit:
    """Result of :func:`read_json_quarantine`. Unpacks like the historical
    2-tuple (``good, bad = read_json_quarantine(...)``) but also carries
    the cache handle: the split REQUIRES caching the parsed frame (the
    corrupt-column workaround below), and without a handle every call
    would pin a corpus read in executor storage for the session lifetime.
    Call :meth:`unpersist` once both splits are consumed."""

    good: DataFrame
    quarantined: DataFrame
    cached: DataFrame

    def unpersist(self, blocking: bool = False) -> None:
        self.cached.unpersist(blocking)

    def __iter__(self):
        return iter((self.good, self.quarantined))


def read_json_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> QuarantineSplit:
    """(good, quarantined[, cache handle]) from one PERMISSIVE read.

    good: rows where every schema field parsed (the corrupt column is
    null), corrupt column dropped. quarantined: (source_file, raw) — the
    unparsed line kept verbatim for replay after the producer fix.
    """
    full = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
        # input_file_name() is only defined while the scan is underway —
        # capture it BEFORE the cache (post-cache it evaluates to '').
        .select("*", F.input_file_name().alias("_source_file"))
        # Spark disallows referencing ONLY the corrupt column of a raw
        # JSON scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN,
        # the SPARK-21610 lineage): the documented workaround is caching
        # the parsed frame, which also makes the two downstream splits one
        # parse instead of two. At 100 TB you would not cache the corpus —
        # you'd write BOTH splits in one job (partitionBy on a derived
        # is_quarantined column) and split at the storage layer; the
        # two-frame API here is the interactive/test form.
        .cache()
    )
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(
        CORRUPT_COL, "_source_file"
    )
    quarantined = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col("_source_file").alias("source_file"),
        F.col(CORRUPT_COL).alias("raw"),
    )
    return QuarantineSplit(good=good, quarantined=quarantined, cached=df)


def drift_report(df: DataFrame) -> DataFrame:
    """One-aggregate field census: (field, n_present, null_rate, type).

    The per-batch monitoring hook — compare consecutive reports to catch
    producer drift before it lands in silver. Single scan, no shuffle
    beyond the 1-row aggregate.
    """
    n = F.count(F.lit(1))
    aggs = [n.alias("_n")]
    for f in df.schema.fields:
        aggs.append(F.count(F.col(f.name)).alias(f"_p_{f.name}"))
    row = df.agg(*aggs)
    pairs = []
    for f in df.schema.fields:
        pairs.append(
            F.struct(
                F.lit(f.name).alias("field"),
                F.col(f"_p_{f.name}").alias("n_present"),
                (
                    (F.col("_n") - F.col(f"_p_{f.name}")).cast("double")
                    / F.greatest(F.col("_n"), F.lit(1))
                ).alias("null_rate"),
                F.lit(f.dataType.typeName()).alias("type"),
            )
        )
    return row.select(
        F.explode(F.array(*pairs)).alias("s")
    ).select("s.field", "s.n_present", "s.null_rate", "s.type")

