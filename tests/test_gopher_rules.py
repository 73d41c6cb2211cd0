"""Gopher rule battery vs its DuckDB twin + targeted rule cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.operators import text as X
from tests.conftest import TEST_SF_DIR

FIELDS = [
    "word_count_ok",
    "mean_word_len_ok",
    "symbol_ratio_ok",
    "alpha_frac_ok",
    "stopwords_ok",
    "pass_gopher",
]


def test_gopher_flags_match_duckdb_twin_on_corpus(spark, duck):
    got = {
        r["doc_id"]: tuple(r["g"][f] for f in FIELDS)
        for r in load_table(spark, TEST_SF_DIR, "documents")
        .select("doc_id", X.gopher_flags(F.col("text")).alias("g"))
        .collect()
    }
    want = {
        r[0]: tuple(r[1][f] for f in FIELDS)
        for r in duck.sql(
            f"SELECT doc_id, {X.gopher_flags_sql('text')} AS g FROM documents"
        ).fetchall()
    }
    assert got == want and len(got) == 500
    # the battery must actually discriminate on this corpus
    passes = sum(1 for v in got.values() if v[-1])
    assert 0 < passes < len(got)


def test_gopher_individual_rules(spark):
    mk = lambda s: (s,)  # noqa: E731
    rows = [
        # 0: too short (< 50 words)
        mk("the a of to and " * 3),
        # 1: long enough, healthy English-ish prose
        mk(("the quick brown fox jumps over a lazy dog and runs far " * 6)),
        # 2: symbol-heavy (every word carries '#')
        mk(("#tag " * 60) + "the a of"),
        # 3: numeric soup (no alphabetic words)
        mk(("123 456 " * 30) + "789"),
        # 4: mean word length too high (long tokens)
        mk(("pneumonoultramicroscopics " * 60) + "the a"),
    ]
    df = spark.createDataFrame(rows, "text string")
    out = [
        r["g"]
        for r in df.select(X.gopher_flags(F.col("text")).alias("g")).collect()
    ]
    assert not out[0]["word_count_ok"]
    assert out[1]["pass_gopher"]
    assert not out[2]["symbol_ratio_ok"]
    assert not out[3]["alpha_frac_ok"] and not out[3]["stopwords_ok"]
    assert not out[4]["mean_word_len_ok"]
