"""Snapshot diffing vs its DuckDB twin + churn semantics."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.operators import diffing as DF_
from nhl_data_pipeline_spark.operators.text import fingerprint, fingerprint_sql
from tests.conftest import TEST_SF_DIR


def _snapshots(spark):
    """old = docs 0..399; new = docs 100..499 with 100..149 edited."""
    d = load_table(spark, TEST_SF_DIR, "documents").select("doc_id", "text")
    old = d.filter(F.col("doc_id") < 400)
    new = (
        d.filter(F.col("doc_id") >= 100)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") < 150, F.concat(F.col("text"), F.lit(" EDITED"))
            ).otherwise(F.col("text")),
        )
    )
    return old, new


def test_snapshot_diff_statuses(spark):
    old, new = _snapshots(spark)
    got = {
        r["doc_id"]: r["status"]
        for r in DF_.snapshot_diff(old, new, fingerprint(F.col("text"))).collect()
    }
    assert len(got) == 500
    assert all(got[i] == "removed" for i in range(0, 100))
    assert all(got[i] == "changed" for i in range(100, 150))
    assert all(got[i] == "unchanged" for i in range(150, 400))
    assert all(got[i] == "added" for i in range(400, 500))

    summary = {
        r["status"]: r["n"]
        for r in DF_.snapshot_diff(old, new, fingerprint(F.col("text")))
        .groupBy("status")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert summary == {
        "removed": 100,
        "changed": 50,
        "unchanged": 250,
        "added": 100,
    }


def test_snapshot_diff_matches_duckdb_twin(spark):
    old, new = _snapshots(spark)
    got = {
        (r["doc_id"], r["status"])
        for r in DF_.snapshot_diff(old, new, fingerprint(F.col("text"))).collect()
    }
    con = duckdb.connect()
    con.register("old_snap", old.toPandas())
    con.register("new_snap", new.toPandas())
    want = {
        tuple(r)
        for r in con.sql(
            DF_.snapshot_diff_sql(
                old_table="old_snap",
                new_table="new_snap",
                key_expr=fingerprint_sql("text"),
            )
        ).fetchall()
    }
    assert got == want


def test_snapshot_diff_null_fingerprint_presence(spark):
    """A doc PRESENT on one side whose fingerprint evaluates to NULL (null
    text -> md5 NULL) must be classified by presence, not fp nullability:
    present-in-both with a null fp on either side is 'changed' (unknown
    content can't be proven unchanged), matching the SQL twin's id test."""
    import duckdb

    old_pd = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": [None, "same", "gone-null"]}
    )
    new_pd = pd.DataFrame(
        {"doc_id": [1, 2, 4], "text": ["now-filled", "same", None]}
    )
    old = spark.createDataFrame(old_pd)
    new = spark.createDataFrame(new_pd)
    got = {
        (r["doc_id"], r["status"])
        for r in DF_.snapshot_diff(old, new, fingerprint(F.col("text"))).collect()
    }
    assert got == {
        (1, "changed"),   # present both sides, old fp NULL -> NOT 'added'
        (2, "unchanged"),
        (3, "removed"),
        (4, "added"),     # new-side fp NULL but genuinely new
    }
    con = duckdb.connect()
    con.register("old_snap", old_pd)
    con.register("new_snap", new_pd)
    want = {
        tuple(r)
        for r in con.sql(
            DF_.snapshot_diff_sql(
                old_table="old_snap",
                new_table="new_snap",
                key_expr=fingerprint_sql("text"),
            )
        ).fetchall()
    }
    assert got == want
