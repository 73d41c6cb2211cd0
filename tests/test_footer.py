"""catalog.footer: lake schemas and row counts from the Parquet footer.

load_table reads each lake table with the schema :func:`footer` maps
from the file's Parquet schema, so opening a table runs no Spark job.
These tests pin that the mapped schema is exactly the one Spark's own
inference gives, under both values of the two confs that change it, on
every lake the engine reads; that unmapped types fail loudly; and that
loading the whole lake launches no job.
"""

from __future__ import annotations

import os
import uuid
import weakref
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nhl_data_pipeline_spark import catalog
from nhl_data_pipeline_spark.catalog import TABLES, footer, load_table
from perfbench.lake import write_lake
from tests.conftest import TEST_SF_DIR

_NANOS = "spark.sql.legacy.parquet.nanosAsLong"
_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


@pytest.fixture
def confs(spark):
    """Set the two schema confs for one test, then restore them."""
    saved = {k: spark.conf.get(k, None) for k in (_NANOS, _NTZ)}

    def set_(nanos: str, ntz: str) -> None:
        spark.conf.set(_NANOS, nanos)
        spark.conf.set(_NTZ, ntz)

    yield set_
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_schema_matches_spark_inference_on_every_lake(spark, confs, tmp_path):
    root = os.path.dirname(TEST_SF_DIR)
    lakes = [os.path.join(root, sf) for sf in ("sf0.001", "sf0.01", "sf0.1")]
    write_lake(str(tmp_path / "lake"), 0.001, 7)
    lakes.append(str(tmp_path / "lake"))
    for nanos in ("true", "false"):
        for ntz in ("true", "false"):
            confs(nanos, ntz)
            for lake in lakes:
                for t in TABLES:
                    path = os.path.join(lake, f"{t}.parquet")
                    want = spark.read.parquet(path).schema
                    assert footer(path, spark).schema == want, (path, nanos, ntz)


def test_nanos_timestamp_maps_to_bigint_under_nanos_as_long(spark, confs, tmp_path):
    path = str(tmp_path / "ns.parquet")
    ts = np.array(["2024-01-02T03:04:05.123456789"], dtype="datetime64[ns]")
    pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("ns"))}), path)
    confs("true", "true")
    got = footer(path, spark).schema
    assert got.simpleString() == "struct<ts:bigint>"
    assert got == spark.read.parquet(path).schema


def test_signed_int_annotations_match_spark_inference(spark, tmp_path):
    """DuckDB's writer (tools/gen_sf1.py's lakes) annotates every integer
    column with a signed Int(bitWidth) logical type."""
    import duckdb

    path = str(tmp_path / "ints.parquet")
    duckdb.sql(
        "SELECT 1::TINYINT AS i8, 2::SMALLINT AS i16, 3::INTEGER AS i32,"
        " 4::BIGINT AS i64, [5::INTEGER] AS l32"
    ).write_parquet(path)
    got = footer(path, spark).schema
    assert got.simpleString() == (
        "struct<i8:tinyint,i16:smallint,i32:int,i64:bigint,l32:array<int>>"
    )
    assert got == spark.read.parquet(path).schema


@pytest.mark.parametrize(
    "column,kw",
    [
        (
            pa.array(np.array(["2024-01-02"], dtype="datetime64[ns]")),
            {"use_deprecated_int96_timestamps": True},
        ),
        (pa.array([Decimal("1.25")], pa.decimal128(5, 2)), {}),
    ],
    ids=["int96", "decimal"],
)
def test_unmapped_type_raises_naming_the_column(spark, tmp_path, column, kw):
    path = str(tmp_path / "odd.parquet")
    pq.write_table(pa.table({"k": [1], "odd_col": column}), path, **kw)
    with pytest.raises(TypeError, match="odd_col"):
        footer(path, spark)


def test_row_count_and_spark_written_directory(spark, tmp_path):
    for t in ("documents", "embeddings"):
        path = os.path.join(TEST_SF_DIR, f"{t}.parquet")
        assert footer(path, spark).num_rows == pq.ParquetFile(path).metadata.num_rows
    # A multi-file directory as Spark writes it (_SUCCESS, .crc files):
    # rows sum over the data files, the schema is the one Spark infers.
    out = str(tmp_path / "multi.parquet")
    spark.range(10).selectExpr("id", "cast(id AS string) AS s").repartition(
        3
    ).write.parquet(out)
    f = footer(out, spark)
    assert f.num_rows == 10
    assert f.schema == spark.read.parquet(out).schema


def test_loading_the_lake_runs_no_job(spark, monkeypatch):
    monkeypatch.setattr(catalog, "_DF_CACHE", weakref.WeakKeyDictionary())
    sc = spark.sparkContext
    group = f"lake-load-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        for t in TABLES:
            load_table(spark, TEST_SF_DIR, t)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
