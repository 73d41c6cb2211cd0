"""Bucketed tables: co-located fact⋈fact joins without an exchange.

At 100 TB the dominant shuffle is the fact-fact join (orders⋈lineitem,
props⋈actuals). Writing both sides bucketed by the join key lets every
subsequent join/aggregation on that key run with NO Exchange — the sort
-merge join reads co-located buckets directly. This is the write-time twin
of repartition(): pay the shuffle once at ingest, never again.

Uses the session catalog (saveAsTable) — bucketing metadata lives in the
catalog, not the parquet files, which is why plain .parquet() paths can't
do this.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    single_file: bool = False,
) -> None:
    """Materialize df as a bucketed (and optionally sorted) catalog table.

    With ``path`` the table is EXTERNAL: the parquet (with bucket ids
    encoded in the file names, Spark's ``part-*_NNNNN`` convention)
    outlives the session, and :func:`register_bucketed_table` can re-attach
    it to a fresh session's catalog — the in-memory catalog holds the
    bucketing METADATA, so without re-registration a new JVM would see
    plain parquet and re-shuffle (the layout's whole point lost).

    ``single_file`` (measured at sf100, bench_logs/r12/): a plain
    bucketed write emits one file per (input task × bucket), i.e.
    scan_tasks × n_buckets fragments — 16K files at sf100/128 buckets,
    32K at 256 — and the cold scan goes seek-bound (join_chain 143.7 →
    166.6 s, topk 157 → 215 s moving 128 → 256 buckets, both with LESS
    spill). Pre-repartitioning by the bucket columns at n_buckets uses
    the same Murmur3-pmod hash as the bucket-id assignment, so every
    bucket lands in exactly one task → exactly one file: sequential
    reads AND write-time sortedness Spark can trust (single-file sorted
    buckets let SMJ skip its local sort). Costs one extra shuffle at
    ingest — the shuffle this layout exists to pay ONCE."""
    if single_file:
        from pyspark.sql import functions as F

        df = df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", os.path.abspath(path))
    w.saveAsTable(table)


def recommended_buckets(table_bytes: int, total_cores: int) -> int:
    """Bucket-count sizing rule for a fact table, as measured at sf100
    (probe matrix in bench_logs/r12/):

    - **Floor: one 128 MiB-compressed bucket per scan task** —
      ``ceil(table_bytes / 128 MiB)`` rounded UP to whole waves of the
      cluster cores, so a bucketed scan (which runs one task per bucket
      and cannot split files) keeps every core busy with the same
      per-task input cap as Spark's own scan splits
      (``spark.sql.files.maxPartitionBytes``). At sf100/32 cores this
      yields 128 for the 16.5 GB lineitem — the probed configuration where the
      layout-aware SHUFFLE_HASH join ran spill-free.
    - **Per-task aggregate state is bounded by the same knob**: group-by
      state per task = distinct keys / buckets. 128 → 256 buckets halved
      topk's fused-task spill 59.7 → 9.1 GB — but raising the count only
      pays if the write used ``single_file=True``; multi-file buckets
      fragment into scan_tasks × buckets files and the cold scan goes
      seek-bound (measured: +37% wall at 256 multi-file buckets).
    - Whole waves, never a bare power of two: a bucketed scan cannot
      split a bucket, so a ragged tail wave would idle the fixed-size
      cluster.
    """
    if table_bytes <= 0 or total_cores <= 0:
        raise ValueError("table_bytes and total_cores must be positive")
    waves = max(1, -(-table_bytes // ((128 << 20) * total_cores)))
    return waves * total_cores


def register_bucketed_table(
    spark: SparkSession,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Re-attach an existing bucketed-parquet directory to this session's
    catalog (CREATE TABLE ... CLUSTERED BY ... LOCATION). Spark recovers
    each file's bucket id from the ``part-*_NNNNN`` name, so the scan
    carries HashPartitioning(bucket_cols, n_buckets) exactly as it did in
    the writing session. Schema is inferred from the parquet footers —
    no drift risk, it IS the data's schema."""
    path = os.path.abspath(path)
    ddl = spark.read.parquet(path)._jdf.schema().toDDL()
    sorted_by = (
        f" SORTED BY ({', '.join(sort_cols)})" if sort_cols else ""
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({ddl}) USING PARQUET "
        f"CLUSTERED BY ({', '.join(bucket_cols)}){sorted_by} "
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )


def ensure_bucketed_lake(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str,
    specs: list[tuple[str, list[str], int, list[str] | None]],
    single_file: bool = False,
) -> dict[str, str]:
    """Idempotent ingest-time layout: for each (lake_table, bucket_cols,
    n_buckets, sort_cols) spec, materialize ``{base_dir}/{table}_bkt``
    once (the pay-the-shuffle-once step) and (re-)register it in this
    session's catalog as ``{table}_bkt``. Returns lake name → catalog
    table name, ready for catalog.register_bucketed_layout."""
    from nhl_data_pipeline_spark.catalog import load_table

    out: dict[str, str] = {}
    for name, bucket_cols, n_buckets, sort_cols in specs:
        tbl = f"{name}_bkt"
        path = os.path.join(base_dir, tbl)
        if not (
            os.path.isdir(path)
            and any(f.startswith("part-") for f in os.listdir(path))
        ):
            write_bucketed(
                load_table(spark, sf_dir, name),
                tbl,
                bucket_cols,
                n_buckets,
                sort_cols=sort_cols,
                path=path,
                single_file=single_file,
            )
        else:
            register_bucketed_table(
                spark, tbl, path, bucket_cols, n_buckets, sort_cols
            )
        out[name] = tbl
    return out

