"""Gopher rule battery: the Spark pass flag vs its DuckDB twin + targeted
rule cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.operators import text as X
from tests.conftest import TEST_SF_DIR


def _spark_pass(df):
    """doc_id → the plans' Spark pass flag, over one tokenize."""
    return {
        r["doc_id"]: r["pass_gopher"]
        for r in df.select("doc_id", X.tokens(F.col("text")).alias("_toks"))
        .selectExpr("doc_id", f"{X.gopher_pass_spark_sql('_toks')} AS pass_gopher")
        .collect()
    }


def test_gopher_flags_match_duckdb_twin_on_corpus(spark, duck):
    got = _spark_pass(load_table(spark, TEST_SF_DIR, "documents"))
    want = dict(
        duck.sql(
            f"SELECT doc_id, ({X.gopher_flags_sql('text')}).pass_gopher"
            " FROM documents"
        ).fetchall()
    )
    assert got == want and len(got) == 500
    # the battery must actually discriminate on this corpus
    passes = sum(1 for v in got.values() if v)
    assert 0 < passes < len(got)


def test_gopher_individual_rules(spark, duck):
    # No test lake has '#' or '...', so cases 2 and 5-8 are the symbol
    # rule's only check; it counts words containing either and passes at
    # a ratio <= 0.1.
    prose = " ".join(["the quick brown fox jumps over a lazy dog"] * 10)
    texts = [
        # 0: too short (< 50 words)
        "the a of to and " * 3,
        # 1: long enough, healthy English-ish prose
        "the quick brown fox jumps over a lazy dog and runs far " * 6,
        # 2: symbol-heavy (every word carries '#')
        ("#tag " * 60) + "the a of",
        # 3: numeric soup (no alphabetic words)
        ("123 456 " * 30) + "789",
        # 4: mean word length too high (long tokens)
        ("pneumonoultramicroscopics " * 60) + "the a",
        # 5: '...'-heavy: 30 of 120 words
        prose + " wait..." * 30,
        # 6: symbol ratio exactly 0.1: 10 of 100 words carry '#'
        prose + " #tag" * 10,
        # 7: just above 0.1: 11 of 101 words
        prose + " #tag" * 11,
        # 8: single dots are not '...': 30 of 120 words
        prose + " U.S." * 30,
    ]
    values = ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
    flags = {
        r[0]: r[1]
        for r in duck.sql(
            f"SELECT doc_id, {X.gopher_flags_sql('text')}"
            f" FROM (VALUES {values}) t(doc_id, text)"
        ).fetchall()
    }
    assert not flags[0]["word_count_ok"]
    assert not flags[2]["symbol_ratio_ok"]
    assert not flags[3]["alpha_frac_ok"] and not flags[3]["stopwords_ok"]
    assert not flags[4]["mean_word_len_ok"]
    assert [flags[i]["symbol_ratio_ok"] for i in range(5, 9)] == [
        False, True, False, True
    ]
    want = [False, True, False, False, False, False, True, False, True]
    assert [flags[i]["pass_gopher"] for i in range(9)] == want

    spark_pass = _spark_pass(
        spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    )
    assert spark_pass == dict(enumerate(want))
