"""Distributed BPE vs a plain-Python reference: merge-for-merge parity."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.operators import bpe
from tests.conftest import TEST_SF_DIR

N_MERGES = 12


def _py_bpe(word_freq: dict[str, int], n_merges: int):
    """Reference BPE over a word-frequency table: count ALL adjacent
    symbol pairs weighted by freq, merge the (count DESC, pair ASC)
    argmax left-to-right non-overlapping, stop when the best pair count
    is <= 1."""
    segs = {w: [c for c in w] for w in word_freq}
    merges = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for w, syms in segs.items():
            f = word_freq[w]
            for x, y in zip(syms, syms[1:]):
                counts[(x, y)] += f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] <= 1:
            break
        merges.append(best)
        a, b = best
        for w, syms in segs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segs[w] = out
    return merges, segs


@pytest.fixture(scope="module")
def corpus(spark):
    return (
        load_table(spark, TEST_SF_DIR, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 200)
    )


def test_train_bpe_matches_python_reference(spark, corpus):
    merges, words = bpe.train_bpe(corpus, N_MERGES)

    wf = {
        r["word"]: r["freq"]
        for r in bpe.word_frequencies(corpus).collect()
    }
    want_merges, want_segs = _py_bpe(wf, N_MERGES)
    assert merges == want_merges and len(merges) > 0

    got_segs = {r["word"]: list(r["syms"]) for r in words.collect()}
    assert got_segs == want_segs


def test_train_bpe_driver_matches_reference(spark, corpus):
    """Driver-local trainer (the 100 TB path: corpus-scale word count in
    Spark, merge loop on the compact vocabulary) is merge-for-merge
    identical to the Python reference and the distributed trainer."""
    wf = {
        r["word"]: r["freq"]
        for r in bpe.word_frequencies(corpus).collect()
    }
    want_merges, _ = _py_bpe(wf, N_MERGES)
    got = bpe.train_bpe_driver(corpus, N_MERGES)
    assert got == want_merges and len(got) > 0


def test_train_bpe_driver_max_words_guard(spark, corpus, monkeypatch):
    """Past ``max_words`` the driver-local loop does not run: training
    degrades to the distributed trainer, which learns the same merges."""
    wf = {
        r["word"]: r["freq"]
        for r in bpe.word_frequencies(corpus).collect()
    }
    assert len(wf) > 3
    want_merges, _ = _py_bpe(wf, N_MERGES)
    calls = []
    distributed = bpe.train_bpe

    def counting(*args, **kwargs):
        calls.append(args)
        return distributed(*args, **kwargs)

    monkeypatch.setattr(bpe, "train_bpe", counting)
    got = bpe.train_bpe_driver(corpus, N_MERGES, max_words=3)
    assert got == want_merges and len(got) > 0
    assert len(calls) == 1


def test_encode_reproduces_training_segmentation(spark, corpus):
    merges, words = bpe.train_bpe(corpus, N_MERGES)
    segs = {r["word"]: list(r["syms"]) for r in words.collect()}
    enc = bpe.encode(
        spark.createDataFrame([(w,) for w in segs], "text string"), merges
    )
    got = {r["text"]: list(r["bpe_tokens"]) for r in enc.collect()}
    assert got == segs


def test_encode_is_pure_map(spark, corpus):
    """Encoding must stay a stateless projection: no join, no exchange,
    no Python stage — apply-tokenizer at 100 TB is scan-shaped."""
    merges, _ = bpe.train_bpe(corpus, 4)
    plan = bpe.encode(corpus, merges)
    p = plan.sparkSession._jvm.PythonSQLUtils.explainString(
        plan._jdf.queryExecution(), "extended"
    )
    assert "Exchange" not in p and "Join" not in p
    assert "BatchEvalPython" not in p


try:
    from hypothesis import given, settings, strategies as st

    _WORD = st.text(alphabet="abcd", min_size=1, max_size=6)

    @settings(max_examples=3, deadline=None)
    @given(st.lists(st.lists(_WORD, min_size=1, max_size=8), min_size=2, max_size=10))
    def test_train_bpe_matches_python_on_random_corpora(spark, docs_words):
        """Generative parity: on arbitrary tiny corpora (tight alphabet →
        dense pair collisions, the adversarial regime for tiebreaks and
        overlapping merges like 'aaa'), the distributed trainer must equal
        the Python reference merge-for-merge and segment-for-segment."""
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        merges, words = bpe.train_bpe(df, 6)

        wf: dict[str, int] = {}
        for _, text in rows:
            for w in text.split(" "):
                if w:
                    wf[w] = wf.get(w, 0) + 1
        want_merges, want_segs = _py_bpe(wf, 6)
        assert merges == want_merges
        got_segs = {r["word"]: list(r["syms"]) for r in words.collect()}
        assert got_segs == want_segs

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.lists(_WORD, min_size=1, max_size=8), min_size=2, max_size=10
        )
    )
    def test_bpe_sql_replay_matches_python_on_random_corpora(docs_words):
        """The DuckDB CTE replay that ORACLE-checks the driver's BPE row
        (plans/q_text._bpe_oracle_ctes) must equal the Python reference
        merge-for-merge AND segment-for-segment on arbitrary corpora —
        the tight alphabet makes count ties, overlapping pairs ('aaa'),
        and early stop-at-count<=1 exhaustion all common, exactly the
        regimes where an argmax/fold replay would silently diverge.
        Pure DuckDB + Python: no Spark session, so hypothesis can afford
        10 examples."""
        import duckdb
        import pandas as pd

        from nhl_data_pipeline_spark.plans.q_text import _bpe_oracle_ctes

        n = 6
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
        con = duckdb.connect()
        con.register(
            "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
        )
        merge_union = " UNION ALL ".join(
            f"SELECT {k} AS rnk, a, b FROM bpe_p{k}" for k in range(1, n + 1)
        )
        got_merges = [
            (r[1], r[2])
            for r in con.sql(
                f"WITH {_bpe_oracle_ctes(n)} "
                f"SELECT * FROM ({merge_union}) ORDER BY rnk"
            ).fetchall()
        ]
        got_segs = {
            r[0]: r[1].split(" ")
            for r in con.sql(
                f"WITH {_bpe_oracle_ctes(n)} SELECT word, seq FROM bpe_w{n}"
            ).fetchall()
        }
        wf: dict[str, int] = {}
        for _, text in rows:
            for w in text.split(" "):
                if w:
                    wf[w] = wf.get(w, 0) + 1
        want_merges, want_segs = _py_bpe(wf, n)
        assert got_merges == want_merges
        assert got_segs == want_segs

except ImportError:  # pragma: no cover
    pass


def test_vocabulary_covers_all_symbols(spark, corpus):
    merges, words = bpe.train_bpe(corpus, N_MERGES)
    vocab = {r["token"] for r in bpe.vocabulary(words).collect()}
    # every merged token and every residual char is in the vocab
    segs = [s for r in words.collect() for s in r["syms"]]
    assert set(segs) == vocab
    assert any(len(t) > 1 for t in vocab)  # merges actually happened
