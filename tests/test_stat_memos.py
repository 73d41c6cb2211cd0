"""Scalar-statistics memo boundary.

catalog.py's memoization policy allows exactly two memo classes: lazy
table plans (test_catalog_memo.py) and the file-identity-keyed BPE merge
list that shapes a plan (row counts come from Parquet footers and need
no memo). These tests pin the second class: after building the
memo-using query, the memo holds only BPE merge lists (pairs of strings)
— never DataFrames, Rows, result sets, or anything else that would
smuggle data across runs — and every key carries the (path, size,
mtime_ns) invalidation triple.
"""

from __future__ import annotations

from nhl_data_pipeline_spark.plans import q_text
from nhl_data_pipeline_spark.plans.registry import all_queries
from tests.conftest import TEST_SF_DIR


def _check_key(key) -> None:
    # (path str, st_size int, st_mtime_ns int): the invalidation triple.
    assert isinstance(key, tuple) and len(key) == 3, key
    path, size, mtime = key
    assert isinstance(path, str) and path.endswith(".parquet"), key
    assert isinstance(size, int) and isinstance(mtime, int), key


def test_stat_memos_hold_only_scalars(spark):
    # Build (not run) the memo-populating query so the memo is warm.
    all_queries()["bpe_merges"].fn(spark, TEST_SF_DIR)

    assert q_text._BPE_MEMO, "BPE memo never populated"
    for key, val in q_text._BPE_MEMO.items():
        _check_key(key)
        assert isinstance(val, list), (key, type(val))
        for pair in val:
            assert (
                isinstance(pair, tuple)
                and len(pair) == 2
                and all(isinstance(p, str) for p in pair)
            ), pair
    spark.catalog.clearCache()
