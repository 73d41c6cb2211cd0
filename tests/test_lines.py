"""Line-level boilerplate dedup vs a DuckDB twin + semantic invariants."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.operators import lines as L

BOILER = "© 2024 ExampleCorp — all rights reserved"
NAV = "home | scores | stats | standings"


def _corpus() -> pd.DataFrame:
    rows = []
    for i in range(8):
        body = [f"unique prose line {i}a", f"unique prose line {i}b"]
        doc = [NAV, *body, BOILER] if i % 2 == 0 else [*body, BOILER]
        rows.append((i, "\n".join(doc)))
    # doc 8: only boilerplate → strips to empty
    rows.append((8, "\n".join([NAV, BOILER])))
    # doc 9: repeats one of ITS OWN lines (within-doc dup is not boilerplate)
    rows.append((9, "\n".join(["solo line", "solo line", "another line"])))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(_corpus())


MIN_DOCS = 5  # BOILER in 9 docs, NAV in 5 → both stripped; prose stays


def test_strip_matches_duckdb_twin(spark, corpus):
    got = {
        tuple(r)
        for r in corpus.transform(
            lambda d: L.strip_frequent_lines(d, MIN_DOCS)
        ).collect()
    }
    con = duckdb.connect()
    con.register("documents", _corpus())
    want = {tuple(r) for r in con.sql(L.strip_frequent_lines_sql(MIN_DOCS)).fetchall()}
    assert got == want and len(got) == 10


def test_strip_semantics(spark, corpus):
    out = {
        r["doc_id"]: r for r in L.strip_frequent_lines(corpus, MIN_DOCS).collect()
    }
    # boilerplate gone, prose intact, original order preserved
    assert out[0]["text"] == "unique prose line 0a\nunique prose line 0b"
    assert out[0]["n_lines"] == 4 and out[0]["n_removed"] == 2
    assert out[1]["text"] == "unique prose line 1a\nunique prose line 1b"
    assert out[1]["n_removed"] == 1
    # all-boilerplate doc survives as an empty row (caller decides to drop)
    assert out[8]["text"] == "" and out[8]["n_removed"] == 2
    # within-doc repetition is NOT cross-doc boilerplate
    assert out[9]["text"] == "solo line\nsolo line\nanother line"
    assert out[9]["n_removed"] == 0


def test_strip_is_idempotent(spark, corpus):
    """Surviving lines had cross-doc frequency < min_docs, and stripping
    never changes any surviving line's frequency — a second pass is a
    no-op."""
    once = L.strip_frequent_lines(corpus, MIN_DOCS)
    twice = L.strip_frequent_lines(once.select("doc_id", "text"), MIN_DOCS)
    a = {(r["doc_id"], r["text"]) for r in once.collect()}
    b = {(r["doc_id"], r["text"]) for r in twice.collect()}
    assert a == b
    assert twice.filter(F.col("n_removed") != 0).count() == 0


def test_strip_lines_restores_minhash_precision(spark):
    """End-to-end composition behind the dedup-regime guidance: a shared
    boilerplate line makes unrelated docs collide in MinHash band buckets
    (candidate blowup); stripping frequent lines first removes the
    collisions while keeping the genuinely duplicated pair."""
    from nhl_data_pipeline_spark.catalog import load_table
    from nhl_data_pipeline_spark.plans.q_text import minhash_band_pairs
    from tests.conftest import TEST_SF_DIR

    boiler = " ".join(f"footer{i} legal{i} nav{i}" for i in range(20))
    base = (
        load_table(spark, TEST_SF_DIR, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
    )
    # plant one true near-duplicate (same body, distinct id)
    dup = base.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    dirty = base.unionAll(dup).select(
        "doc_id", F.concat_ws("\n", "text", F.lit(boiler)).alias("text")
    )

    dirty_pairs = minhash_band_pairs(dirty).count()
    cleaned = L.strip_frequent_lines(dirty, 5).select("doc_id", "text")
    clean_pairs = {
        (r["doc_a"], r["doc_b"]) for r in minhash_band_pairs(cleaned).collect()
    }
    # stripping restores EXACTLY the boiler-free corpus's candidate set
    # (the corpus's own planted near-dups plus ours) — no more, no less
    want_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_band_pairs(base.unionAll(dup)).collect()
    }
    assert clean_pairs == want_pairs
    assert (0, 1000) in clean_pairs
    # and the boilerplate had caused a blowup (order-of-magnitude more)
    assert dirty_pairs > 10 * len(clean_pairs)


try:
    from hypothesis import given, settings, strategies as st

    _LINE = st.sampled_from(
        ["alpha beta", "gamma", "shared footer", "", "  ", "delta epsilon z"]
    )

    @settings(max_examples=3, deadline=None)
    @given(st.lists(st.lists(_LINE, min_size=1, max_size=6), min_size=2, max_size=8))
    def test_strip_is_idempotent_on_random_corpora(spark, docs_lines):
        """Generative idempotence incl. blank/whitespace lines: one strip
        pass reaches a fixed point, and blank lines are never treated as
        boilerplate (paragraph structure survives)."""
        rows = [(i, "\n".join(ls)) for i, ls in enumerate(docs_lines)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        once = L.strip_frequent_lines(df, 2)
        twice = L.strip_frequent_lines(once.select("doc_id", "text"), 2)
        a = {(r["doc_id"], r["text"]) for r in once.collect()}
        b = {(r["doc_id"], r["text"]) for r in twice.collect()}
        assert a == b
        # blank lines survive wherever the doc itself survived non-empty
        for (i, text) in rows:
            lines_in = text.split("\n")
            blanks_in = sum(1 for l in lines_in if not l.strip())
            out_text = next(t for d, t in a if d == i)
            if out_text:
                blanks_out = sum(1 for l in out_text.split("\n") if not l.strip())
                assert blanks_out == blanks_in

except ImportError:  # pragma: no cover
    pass
