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
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
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


def shuffle_width_for(
    spark: SparkSession,
    sf_dir: str,
    tables: str | tuple[str, ...],
    bytes_per_partition: int,
) -> int:
    """Shuffle width derived from SOURCE size, not session config (the
    recipe first proven on the jaccard self-join in plans/q_text.py).

    Why: a fixed ``spark.sql.shuffle.partitions`` makes PER-TASK hash/sort
    state (SHJ build side, partial-agg maps, sort runs) grow linearly with
    the lake — zero spill at sf3 became ~15 GB of spill per run at sf10
    for the jaccard plan, and join_chain_revenue read a raw sf3→sf10
    exponent of 1.25 for exactly this reason. Deriving the width from the
    input bytes pins per-task working set constant as data grows, which is
    the property that survives a 100× scale-up.

    Mechanics: driver-side ``os.path.getsize`` on the lake parquet — no
    Spark job, no cache side effects (the lm.py gate lesson). On a real
    cluster this number comes from catalog size stats / file listing;
    non-local paths fall back to the session parallelism so the plan stays
    valid (AQE still coalesces). ``bytes_per_partition`` is the measured
    no-spill budget of COMPRESSED input per task and is workload-specific:
    512 KiB for shingle-exploding text plans (~30× in-memory expansion),
    8 MiB for plain row joins/aggs (~4× expansion). Never below the
    session parallelism: small lakes keep every core busy and the plan
    shape at test SFs is unchanged.
    """
    if isinstance(tables, str):
        tables = (tables,)
    par = spark.sparkContext.defaultParallelism
    total = 0
    for t in tables:
        try:
            total += os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
        except OSError:  # non-local path (cluster): parallelism fallback
            return par
    derived = max(par, total // bytes_per_partition + 1)
    # Wave-quantize past the fragmentation gate. The 512 KiB/task budget
    # is measured against SPILL (sf10) and is the right floor while the
    # lake is moderate — but applied unquantized at the fifth decade it
    # fragments the plan into thousands of ~200 ms tasks and the box pays
    # pure scheduling tax. Past TEXT_QUANTIZE_WAVES whole waves of the
    # session parallelism, the width is re-derived as WHOLE WAVES at a 2×
    # stretched per-task budget (TEXT_STRETCH_BYTES_PER_TASK). Measured at
    # sf100 (bench_logs/r11/probe_text_width_{prefix,postfix}.out): 576 =
    # 18 waves × 1 MiB/task and the unquantized 1098 are within single-run
    # noise of each other (89.1 vs 95.4 s one run, 106.6 vs 95.6 the next
    # — probes, no settle protocol), BOTH zero-spill; the spill cliff sits
    # at ~1.8 MiB/task (320-wide: wall 116 s, 24 GB disk spill), so the 1
    # MiB stretch keeps ~1.8× headroom while HALVING the task count —
    # strictly less scheduling tax at equal spill safety, which is the
    # property that compounds at 100 TB where the unquantized width would
    # be ~100K tasks. The max() keeps the stretched width continuous at
    # the gate and state-bounded beyond it: a 10× bigger lake gets 10× the
    # waves, never 10× the per-task state.
    if derived > TEXT_QUANTIZE_WAVES * par:
        # The stretch budget is CALLER-RELATIVE —
        # max(1 MiB floor, 2 × the caller's own per-task budget). The
        # floor reproduces the measured text policy exactly (2 × 512 KiB
        # = the 1 MiB stretch benched at sf100), while a caller that
        # crossed the gate with a LARGER budget (e.g. the 8 MiB row
        # budget) re-derives at 16 MiB — always a 2× stretch of its own
        # no-spill budget, never a silent 8× narrowing to the text
        # constant (which would have produced MORE tasks than the
        # unquantized width, inverting the gate's intent).
        stretch = max(TEXT_STRETCH_BYTES_PER_TASK, 2 * bytes_per_partition)
        waves = max(
            TEXT_QUANTIZE_WAVES,
            -(-total // (stretch * par)),
        )
        return waves * par
    return derived


# Measured no-spill budgets of compressed input bytes per shuffle task
# (see shuffle_width_for): text plans explode ~30× into shingle rows,
# plain row-wise joins expand ~4× decompressed.
TEXT_BYTES_PER_PARTITION = 512 << 10
ROW_BYTES_PER_PARTITION = 8 << 20

# Fragmentation gate for text widths: once the
# 512 KiB-derived width exceeds this many whole waves of the session
# parallelism, scheduling tax outgrows spill risk and the width is
# re-derived as whole waves at the 2× stretched budget below. 16 waves
# leaves every measured decade through sf30 untouched (sf30 documents →
# 330 tasks ≈ 10 waves) and quantizes sf100's 1098 → 576 (wall within
# single-run noise of the unquantized width, both zero-spill, at HALF
# the task count; the spill cliff is at ~1.8 MiB/task, so the 1 MiB
# stretch keeps ~1.8× headroom — see shuffle_width_for's note).
TEXT_QUANTIZE_WAVES = 16
TEXT_STRETCH_BYTES_PER_TASK = 1 << 20

_DEFAULT_MAX_SPLIT = 128 << 20  # spark.sql.files.maxPartitionBytes default
_OPEN_COST = 4 << 20  # spark.sql.files.openCostInBytes default

# Row-join spill gate (found by the sf10→sf30 sweep). A first cut derived
# an explicit width for EVERY big fact join from an 8 MiB/task budget —
# calibrated on the shingle-exploding text plans (~30× in-memory
# expansion), wildly conservative for plain row joins (~4×). At sf30
# that planted a 698-way REPARTITION_BY_NUM whose 4.5 MiB tasks cost
# more in scheduling + lost AQE coalescing than they saved: measured
# join_chain_revenue 18.8 s explicit-698 vs 11.0 s at plain session
# width + AQE (total executor CPU grows 2.3× at 3× data — the work is
# sublinear; the explicit over-fragmentation is what read as exponent
# 1.38). Policy now: stay on session width + AQE (the fast path) until
# per-task compressed input at session width would actually break the
# no-spill budget; only then pin an explicit whole-wave width sized to
# ~64 MiB compressed per task (~250 MiB raw — the execution-memory
# budget of a 12 GiB × 32-thread executor).
SPILL_BYTES_PER_TASK = 128 << 20
ROW_TARGET_BYTES_PER_TASK = 64 << 20


def fact_shuffle_width(
    spark: SparkSession, sf_dir: str, tables: str | tuple[str, ...]
) -> int | None:
    """Explicit shuffle width for a plain row-join, or ``None`` for the
    session-width + AQE fast path (see SPILL_BYTES_PER_TASK above).

    ``None`` until compressed input per session-width task exceeds the
    spill gate; past it, the smallest whole-wave width that brings
    per-task input back to ROW_TARGET_BYTES_PER_TASK — whole waves so a
    fixed-size cluster never runs a mostly-idle tail wave, a target well
    under the gate so the width has headroom to amortize further growth.
    Driver-side getsize only; non-local paths stay on the fast path
    (a real cluster gets these bytes from catalog statistics).
    """
    if isinstance(tables, str):
        tables = (tables,)
    total = 0
    for t in tables:
        try:
            total += os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
        except OSError:  # non-local path (cluster): fast path
            return None
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if total // parts <= SPILL_BYTES_PER_TASK:
        return None
    par = spark.sparkContext.defaultParallelism
    waves = -(-(total // ROW_TARGET_BYTES_PER_TASK) // par)
    return waves * par


def tune_scan_splits(spark: SparkSession, sf_dir: str, table: str) -> None:
    """Size scan splits of the query's dominant fact table into WHOLE
    waves of the session's parallelism (found by the sf10→sf30 sweep).

    Spark's split formula is ``maxSplitBytes = min(maxPartitionBytes,
    max(openCost, totalBytes / parallelism))``. While the lake is small
    the ``totalBytes / parallelism`` term wins and every core gets one
    equal split — scan wall-clock scales with data. Once bytes-per-core
    crosses the 128 MiB cap, the cap wins: task count stops tracking the
    lake (ceil(total/128 MiB) tasks of a FIXED size), so the tail wave
    runs mostly-idle and per-wave work jumps. Measured at sf10→sf30
    (1.4 GB → 4.7 GB lineitem, 32 cores): 32 even tasks → 37 ragged ones
    and pricing_summary read exponent 1.21; splitting to 2 full waves of
    74 MiB (64 tasks) brought it back to ~0.87.

    Policy: waves = ceil(total / (128 MiB × parallelism)), split size =
    ceil(total / (waves × parallelism)) — the largest split ≤128 MiB
    whose task count is a whole multiple of the cores. Below the cap the
    computed split equals Spark's own bytes-per-core result, so small-SF
    behavior (and every pinned plan fingerprint — split sizing is
    runtime, not plan shape) is unchanged. On a real cluster the same
    policy holds with parallelism = total executor cores; non-local
    paths leave the session conf alone (driver-side getsize only, no
    Spark job — the lm.py gate lesson).

    The conf is set DETERMINISTICALLY on every call — the tiny-lake branch
    RESETS it to the 128 MiB default instead of leaving whatever a
    previous query's tuning put there. Spark reads
    ``spark.sql.files.maxPartitionBytes`` at EXECUTION time
    (FilePartition.maxSplitBytes when the scan RDD is built), so a
    save/restore around the query BUILD would nullify the tuning;
    always-set makes the executed split a pure function of (sf_dir,
    dominant table) for every query that calls this, and
    :func:`reset_scan_splits` covers untuned queries in shared-session
    runners (bench.py per-query blocks, the NHL pipeline runner).
    """
    par = spark.sparkContext.defaultParallelism
    try:
        total = os.path.getsize(os.path.join(sf_dir, f"{table}.parquet"))
    except OSError:  # non-local path (cluster): keep session policy
        return
    if total // par <= _OPEN_COST:
        # tiny lake: openCost floor governs under the DEFAULT — restore
        # it so a preceding big-lake tuning can't leak into this query.
        reset_scan_splits(spark)
        return
    waves = -(-total // (_DEFAULT_MAX_SPLIT * par))
    split = -(-total // (waves * par))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))


def reset_scan_splits(spark: SparkSession) -> None:
    """Restore the default scan-split size. Shared-session runners call
    this between queries so an untuned query never inherits a split that
    a previously-built query's :func:`tune_scan_splits` pinned —
    execution-order-dependent scan widths would contaminate one query
    with another's tuning."""
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes", str(_DEFAULT_MAX_SPLIT)
    )


# Bucketed-layout registry: table name →
# (catalog table, bucket columns). When a lake table has been materialized
# as a bucketed catalog table (sources/bucketed.py), registering it here
# makes load_table serve the bucketed scan and lets the width policies
# skip their explicit repartition on the bucket key — the layout already
# carries the distribution, so planting REPARTITION_BY_NUM on top would
# RE-ADD the exchange the layout exists to remove. Session-scoped and
# empty by default: the driver/bench/test paths never populate it, so
# every pinned plan fingerprint and oracle run is untouched; cluster
# ingest and `tools/capture_plans.py --bucketed` are the intended
# writers. This is the engine's "pay the shuffle once at ingest" switch —
# the 100 TB answer to the single-disk exchange wait measured in
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
    ClusteredDistribution on ``cols``, i.e. an explicit repartition on
    ``cols`` is redundant (and harmful: it would plant the exchange the
    bucketing removed)."""
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
    the lakes hold: INT32/INT64/FLOAT/DOUBLE, String byte arrays, lists of
    those, and INT64 timestamps. The two confs that change what Spark
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
