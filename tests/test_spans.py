"""Exact duplicate-span detection vs its DuckDB twin and planted spans."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from nhl_data_pipeline_spark.operators import spans as S

# A 12-token paragraph shared verbatim by three docs, embedded at
# different offsets inside otherwise-unique text.
PARA = "the quick brown fox jumps over the lazy dog near the river"
N = 8


def _corpus() -> pd.DataFrame:
    rows = [
        (0, f"alpha beta gamma {PARA} delta epsilon"),
        (1, f"{PARA} zeta eta theta iota kappa"),
        (2, f"one two three four five six seven {PARA}"),
        # unique doc — no spans
        (3, "completely unique text with no repeated windows at all "
            "padding padding2 padding3 padding4 padding5 padding6"),
        # self-repetition: the same 10-token run twice WITHIN one doc
        (4, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 mid "
            "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),
        # short doc below n tokens — must not crash, no grams
        (5, "tiny doc"),
    ]
    return pd.DataFrame(rows, columns=["doc_id", "text"])


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(_corpus())


def test_planted_paragraph_found_maximal(spark, corpus):
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in S.duplicate_spans(corpus, N).collect()
    }
    # PARA is 12 tokens; its duplicated windows cover exactly its 12
    # tokens in each host doc (the flanking grams are unique).
    para_len = len(PARA.split())
    expect_docs = {0: 4, 1: 1, 2: 8}  # 1-based start offset of PARA
    for d, start in expect_docs.items():
        assert (d, start, start + para_len - 1, para_len) in got, (d, got)
    # doc 4: both copies of the 10-token run are spans; doc 3/5: none.
    doc4 = sorted((a, b) for (d, a, b, _l) in got if d == 4)
    assert doc4 == [(1, 10), (12, 21)]
    assert not any(d in (3, 5) for (d, _a, _b, _l) in got)


def test_matches_duckdb_twin(spark, corpus):
    got = {tuple(r) for r in S.duplicate_spans(corpus, N).collect()}
    con = duckdb.connect()
    con.register("documents", _corpus())
    want = {tuple(r) for r in con.sql(S.duplicate_spans_sql(N)).fetchall()}
    assert got == want


def test_twin_on_real_documents(spark, duck):
    from nhl_data_pipeline_spark.catalog import load_table
    from tests.conftest import TEST_SF_DIR

    docs = load_table(spark, TEST_SF_DIR, "documents")
    got = {tuple(r) for r in S.duplicate_spans(docs, 8).collect()}
    want = {tuple(r) for r in duck.sql(S.duplicate_spans_sql(8)).fetchall()}
    assert got == want
    assert got  # sf0.001 documents contain near-dup pairs → spans exist
