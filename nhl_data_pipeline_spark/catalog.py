"""Table catalog over the driver-provided parquet test lake.

The synthetic lake (``/root/testdata/sf*/``) is a TPC-H-ish star schema plus
an ``events`` stream table and ``documents`` / ``embeddings`` tables for the
training-data operators. Readers go through :func:`load_table` so every query
in the engine shares one access path — which is also where, at production
scale, bucketing / partition filters / table-format (Delta/Iceberg) options
would be injected.
"""

from __future__ import annotations

import json
import os
import weakref
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to always broadcast in joins (≤ a few MB even
# at sf100; the reference's dim_player/dim_team are the same shape).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def reset_scan_splits(spark: SparkSession) -> None:
    """Set the scan-split size to Spark's 128 MiB default.

    No plan builder changes the split size any more: scans use Spark's
    own split formula and shuffles the session's
    ``spark.sql.shuffle.partitions`` (see ``session.cluster_conf``). This
    stays only because ``perfbench/workloads.py`` imports it; the
    benchmark change that moves perfbench onto ``obs`` deletes it."""
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))


# Bucketed-layout registry: table name →
# (catalog table, bucket columns). When a lake table has been materialized
# as a bucketed catalog table (sources/bucketed.py), registering it here
# makes load_table serve the bucketed scan, whose HashPartitioning on the
# bucket key satisfies downstream joins and aggregates on that key with
# no exchange. Session-scoped and empty by default: the driver/bench/test
# paths never populate it, so every pinned plan fingerprint and oracle
# run is untouched; cluster ingest and `tools/capture_plans.py
# --bucketed` are the intended writers. This is the engine's "pay the
# shuffle once at ingest" switch — the answer to the single-disk
# exchange wait measured at sf100 in
# bench_logs/r11/probe_stage_{join_chain,topk}_sf100.out.
BUCKETED_LAYOUT: dict[str, tuple[str, tuple[str, ...]]] = {}


def register_bucketed_layout(
    name: str, catalog_table: str, bucket_cols: tuple[str, ...] | list[str]
) -> None:
    """Serve ``name`` from ``catalog_table`` (a bucketed table already
    registered in the session catalog) instead of the lake parquet."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    BUCKETED_LAYOUT[name] = (catalog_table, tuple(bucket_cols))


def bucketed_on(name: str, *cols: str) -> bool:
    """True iff ``name`` is registered with bucket columns ⊆ ``cols`` —
    exactly when HashPartitioning(bucket_cols) satisfies a
    ClusteredDistribution on ``cols``, so a join on ``cols`` needs no
    exchange on that side."""
    entry = BUCKETED_LAYOUT.get(name)
    return entry is not None and set(entry[1]) <= set(cols)


# ---------------------------------------------------------------------
# MEMOIZATION POLICY. The engine keeps exactly
# two classes of cross-call memo, both stand-ins for what a real 100 TB
# deployment serves from its metastore/catalog statistics, and both
# keyed on the SOURCE FILE's identity (path, st_size, st_mtime_ns) so a
# rewritten lake invalidates them:
#
# 1. Lazy-plan memos (``_DF_CACHE`` below): the unanalyzed DataFrame per
#    table — schema + file listing only; every action still scans the
#    parquet.
# 2. The scalar-statistics memo ``_BPE_MEMO`` (plans/q_text.py): the BPE
#    trainer's merge list, one deterministic statistic per corpus that
#    only ever shapes the PLAN, never results.
#
# ``operators/similarity.py::hyperplanes`` is memoized too, but it is a
# constant of two ints (dim, planes), not a statistic of a file.
#
# Row counts need no memo: :func:`footer` reads them from the Parquet
# footer on the driver, without a Spark job.
#
# Never memoized: query results, row data, persisted intermediates, or
# anything keyed on a query. The DuckDB oracle and the bench recompute
# everything from the parquet inputs on every invocation;
# tests/test_stat_memos.py pins that the memo holds only merge-lists
# and that its keys carry the file-identity invalidation.
# ---------------------------------------------------------------------


class Footer(NamedTuple):
    """What a lake table's Parquet footer states: the schema Spark's own
    inference would give, and the row count."""

    schema: StructType
    num_rows: int


# Unannotated physical types and the Spark type each reads as.
_PLAIN_TYPES: dict[str, DataType] = {
    "INT32": IntegerType(),
    "INT64": LongType(),
    "FLOAT": FloatType(),
    "DOUBLE": DoubleType(),
}
# Signed INT(bitWidth) annotations (DuckDB's writer, so tools/gen_sf1.py's
# lakes, sets them) by (physical type, bit width).
_SIGNED_INT_TYPES: dict[tuple[str, int], DataType] = {
    ("INT32", 8): ByteType(),
    ("INT32", 16): ShortType(),
    ("INT32", 32): IntegerType(),
    ("INT64", 64): LongType(),
}


def _leaf_type(col, nanos_as_long: bool, infer_ntz: bool) -> DataType | None:
    """Spark type of one Parquet leaf column, from its physical and
    logical type (not the Arrow type, which shows INT96 as a nanosecond
    timestamp where Spark reads a timestamp); ``None`` if unmapped."""
    phys = col.physical_type
    logical = json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    if kind == "None":
        return _PLAIN_TYPES.get(phys)
    if kind == "String" and phys == "BYTE_ARRAY":
        return StringType()
    if kind == "Int" and logical["isSigned"]:
        return _SIGNED_INT_TYPES.get((phys, logical["bitWidth"]))
    if kind == "Timestamp" and phys == "INT64":
        unit = logical["timeUnit"]
        if unit == "microseconds":
            if logical["isAdjustedToUTC"] or not infer_ntz:
                return TimestampType()
            return TimestampNTZType()
        if unit == "nanoseconds" and nanos_as_long:
            return LongType()
    return None


def _schema_confs(spark: SparkSession) -> tuple[str, str]:
    """The live session's nanosAsLong and inferTimestampNTZ settings —
    the two confs that change the schema Spark infers from a footer."""
    return (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
        spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
    )


def _data_files(path: str) -> list[str]:
    """The parquet files behind a table path: the path itself, or the
    data files of a Spark-written directory (hidden ``_``/``.`` files
    skipped, as Spark's listing does)."""
    if not os.path.isdir(path):
        return [path]
    files = [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if not f.startswith(("_", "."))
    ]
    if not files:
        raise FileNotFoundError(f"no parquet data file under {path}")
    return files


def footer(path: str, spark: SparkSession) -> Footer:
    """Schema and row count of a lake table, read from its Parquet footer
    with pyarrow on the driver — no Spark job.

    The schema equals ``spark.read.parquet(path).schema`` for every shape
    the lakes hold: INT32/INT64/FLOAT/DOUBLE (plain or with a signed Int
    annotation), String byte arrays, lists of those, and INT64
    timestamps. The two confs that change what Spark
    infers are read from the live session:
    ``spark.sql.legacy.parquet.nanosAsLong`` (TIMESTAMP(NANOS) → bigint)
    and ``spark.sql.parquet.inferTimestampNTZ.enabled`` (a timestamp not
    adjusted to UTC → timestamp_ntz). Every field is nullable, as Spark's
    inference makes it. Any other type raises ``TypeError`` naming the
    file and the column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = _data_files(path)
    nanos_as_long, infer_ntz = (
        v.lower() == "true" for v in _schema_confs(spark)
    )
    pf = pq.ParquetFile(files[0])
    # Leaf columns grouped by top-level field: one leaf at repetition 0
    # is a primitive, one leaf at repetition 1 under a list is a list of
    # primitives. The Arrow schema is consulted only for that structure.
    leaves: dict[str, list] = {}
    for i in range(len(pf.schema)):
        col = pf.schema.column(i)
        leaves.setdefault(col.path.split(".")[0], []).append(col)
    arrow = pf.schema_arrow
    fields = []
    for name, cols in leaves.items():
        col = cols[0]
        t = _leaf_type(col, nanos_as_long, infer_ntz) if len(cols) == 1 else None
        kind = arrow.field(name).type
        if (
            t is not None
            and col.max_repetition_level == 1
            and pa.types.is_list(kind)
            and not pa.types.is_nested(kind.value_type)
        ):
            t = ArrayType(t)
        elif col.max_repetition_level != 0 or col.path != name:
            t = None
        if t is None:
            raise TypeError(
                f"{path}: column {name!r} has Parquet type {col.physical_type}"
                f" {col.logical_type}, which the engine does not map"
            )
        fields.append(StructField(name, t, True))
    num_rows = pf.metadata.num_rows + sum(
        pq.read_metadata(f).num_rows for f in files[1:]
    )
    return Footer(StructType(fields), num_rows)


# Per-session memo of lazy table DataFrames. The schema comes from
# :func:`footer` with no Spark job, but ``spark.read...parquet`` still
# lists the file and builds a plan on every call — about 10 ms per
# reference, 0.09-0.12 s for the ten tables (measured warm, 4 cores), and
# a join-heavy build references several tables. A real 100 TB engine
# serves table plans from a catalog/metastore; this memo is that catalog.
# It caches only the LAZY plan (schema + file listing): every action
# still scans the parquet from disk, so no data or results are reused
# across runs (bench's clearCache() is about persisted DATA and is
# unaffected). Keyed on the session (weakly), the file's identity (path,
# mtime_ns, size — a rewritten fixture invalidates), and the two confs
# that change the footer's schema.
_DF_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one lake table. Column pruning + predicate pushdown reach the
    parquet scan automatically because callers keep the plan declarative.

    If the table is registered in :data:`BUCKETED_LAYOUT`, the bucketed
    catalog table is served instead — same rows, same schema, but the scan
    carries HashPartitioning(bucket_cols) so downstream joins/aggregates
    on the bucket key need no exchange."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name in BUCKETED_LAYOUT:
        return spark.table(BUCKETED_LAYOUT[name][0])
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    per_session = _DF_CACHE.setdefault(spark, {})
    key = (path, st.st_mtime_ns, st.st_size, _schema_confs(spark))
    cached = per_session.get(key)
    if cached is not None:
        return cached
    df = spark.read.schema(footer(path, spark).schema).parquet(path)
    if name == "events":
        # Normalize events.ts to timestamp_ntz regardless of how the lake
        # stored it: TIMESTAMP(NANOS) parquet surfaces as a raw nanosecond
        # bigint under nanosAsLong (truncate — not round — to micros, the
        # same ns→us semantics DuckDB applies), while micro-precision
        # parquet arrives as a timestamp already.
        from pyspark.sql import functions as F

        if isinstance(df.schema["ts"].dataType, LongType):
            ts = F.timestamp_micros(F.expr("ts div 1000"))
        else:
            ts = F.col("ts")
        df = df.withColumn("ts", ts.cast("timestamp_ntz"))
    per_session[key] = df
    return df
