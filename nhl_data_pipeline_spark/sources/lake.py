"""Latest-wins upsert into a parquet table: the sink of the streaming
upsert (``streaming/events_stream.py``).

The reference re-snapshots its sources and keeps the newest snapshot per
key (W1 dedup); with a table format that is MERGE INTO. Here it is a
union + ``row_number`` rewrite, scoped to the affected partitions when the
table is partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def upsert_latest(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    order_cols: tuple[str, ...],
    partition_col: str | None = None,
    keys_stable_within_partition: bool = False,
) -> DataFrame:
    """Latest-wins upsert into a parquet table (merge analog without Delta).

    The batch twin of the streaming upsert sink the reference's re-snapshot
    + W1 dedup pattern implies (SURVEY §2.10): union existing rows with
    updates, keep the newest row per key by order_cols, rewrite. With a
    table format this becomes MERGE INTO; the dedup semantics are identical
    to nhl.staging.latest_snapshot.

    Determinism: order_cols ties are broken by a hash of the full row
    (xxhash64), so the survivor is stable across runs and engines; rows that
    tie on BOTH order_cols and content are interchangeable by definition.

    Scale path — partition_col: when set, the table is Hive-partitioned on
    that column and only AFFECTED partitions are rewritten (dynamic
    partition overwrite); untouched partition directories keep their files
    byte-identical. Affected = partitions the updates land in, plus — since
    a key's latest row may move partitions — partitions currently holding
    any updated key (found with a key-column-pruned semi-join scan; set
    keys_stable_within_partition=True to skip that scan when the caller
    guarantees a key never changes partition, e.g. key embeds the date).
    Without partition_col the whole table is rewritten — fine for small
    dimension tables, a scale-killer past that; callers at 100 TB must
    partition.
    """
    import os
    import shutil

    from pyspark.sql.window import Window

    exists = os.path.isdir(path)

    def dedup_latest(df: DataFrame) -> DataFrame:
        tiebreak = F.xxhash64(F.struct(*[F.col(c) for c in df.columns]))
        w = Window.partitionBy(key).orderBy(
            *[F.desc(c) for c in order_cols], F.desc(tiebreak)
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    if partition_col is None:
        merged = (
            spark.read.parquet(path).unionByName(updates) if exists else updates
        )
        latest = dedup_latest(merged)
        # Rewrite through a staging dir: the plan reads `path`, so writing
        # onto it in place would truncate inputs mid-read.
        tmp = f"{path}__staged"
        latest.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(path)
        shutil.rmtree(tmp)
        return spark.read.parquet(path)

    if not exists:
        updates_latest = dedup_latest(updates)
        updates_latest.write.mode("overwrite").partitionBy(partition_col).parquet(path)
        return spark.read.parquet(path)

    current = spark.read.parquet(path)
    affected = {
        r[0] for r in updates.select(partition_col).distinct().collect()
    }
    if not keys_stable_within_partition:
        # Key-pruned scan: reads only (key, partition_col) columns.
        affected |= {
            r[0]
            for r in current.join(
                updates.select(key).distinct(), key, "left_semi"
            )
            .select(partition_col)
            .distinct()
            .collect()
        }
    sub_current = current.filter(F.col(partition_col).isin(*affected))
    latest = dedup_latest(sub_current.unionByName(updates))
    tmp = f"{path}__staged"
    latest.write.mode("overwrite").parquet(tmp)
    staged = spark.read.parquet(tmp)
    (
        staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    # Dynamic overwrite only replaces partitions present in the written
    # data: an affected partition whose rows ALL moved away would keep its
    # stale files. Drop those emptied partitions explicitly (a real table
    # format does this transactionally inside MERGE).
    written = {r[0] for r in staged.select(partition_col).distinct().collect()}
    for val in affected - written:
        part_dir = os.path.join(path, f"{partition_col}={val}")
        if os.path.isdir(part_dir):
            shutil.rmtree(part_dir)
    shutil.rmtree(tmp)
    return spark.read.parquet(path)
