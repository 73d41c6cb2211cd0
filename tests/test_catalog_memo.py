"""The per-session lazy-DataFrame memo in catalog.load_table.

The memo must behave like a metastore schema catalog — identical lazy plan
served for repeat references — while never caching DATA: an in-place rewrite
of the underlying parquet must invalidate the entry, and a fresh action must
read the new bytes (the no-precomputation rule: every bench/oracle run
computes from the parquet inputs).
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from nhl_data_pipeline_spark import catalog
from nhl_data_pipeline_spark.catalog import load_table

TEST_SF_DIR = "/root/testdata/sf0.001"


def test_repeat_reference_is_memoized(spark):
    a = load_table(spark, TEST_SF_DIR, "region")
    b = load_table(spark, TEST_SF_DIR, "region")
    assert a is b  # same lazy plan object — no second listing or plan build


def test_distinct_tables_distinct_entries(spark):
    a = load_table(spark, TEST_SF_DIR, "region")
    b = load_table(spark, TEST_SF_DIR, "nation")
    assert a is not b
    assert a.columns != b.columns


def test_rewrite_invalidates_and_rereads(spark, tmp_path):
    # A private lake dir so mutating it can't perturb other tests.
    lake = tmp_path / "lake"
    lake.mkdir()
    src = Path(TEST_SF_DIR) / "region.parquet"
    dst = lake / "region.parquet"
    shutil.copytree(src, dst) if src.is_dir() else shutil.copy(src, dst)

    first = load_table(spark, str(lake), "region")
    n_first = first.count()
    assert first is load_table(spark, str(lake), "region")

    # Rewrite the file with HALF the rows: the memo key carries
    # (mtime_ns, size), so the next load must be a fresh plan and a fresh
    # action must see the new row count — data was never cached.
    half = first.limit(n_first // 2)
    half_pdf = half.toPandas()
    if dst.is_dir():
        shutil.rmtree(dst)
    else:
        dst.unlink()
    spark.createDataFrame(half_pdf).coalesce(1).write.parquet(str(dst))

    second = load_table(spark, str(lake), "region")
    assert second is not first
    assert second.count() == n_first // 2


def test_missing_file_raises(spark, tmp_path):
    with pytest.raises(Exception):
        load_table(spark, str(tmp_path), "region")


def test_memo_is_per_session_and_weak(spark):
    # The WeakKeyDictionary must hold THIS session's entries (populated by
    # the tests above) without pinning dead sessions forever.
    assert spark in catalog._DF_CACHE
    assert len(catalog._DF_CACHE[spark]) >= 2
