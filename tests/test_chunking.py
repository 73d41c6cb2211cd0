"""Fixed-token chunking: DuckDB twin parity + reconstruction properties."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.operators.chunking import (
    chunk_documents,
    chunk_documents_sql,
)
from tests.conftest import TEST_SF_DIR

CHUNK, OVERLAP = 16, 4  # small windows so the 50-token test docs multi-chunk


@pytest.fixture(scope="module")
def chunks(spark):
    docs = load_table(spark, TEST_SF_DIR, "documents").select("doc_id", "text")
    return chunk_documents(
        docs, chunk_tokens=CHUNK, overlap=OVERLAP
    ).collect()


def test_matches_duckdb_twin(spark, duck, chunks):
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_chunks"], r["n_tokens"], r["chunk_text"])
        for r in chunks
    }
    want = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in duck.sql(
            chunk_documents_sql(chunk_tokens=CHUNK, overlap=OVERLAP)
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_reconstruction_and_sizes(spark, chunks):
    """Dropping each non-first chunk's leading overlap and concatenating
    reproduces the original token stream; every chunk is ≤ CHUNK tokens
    and non-empty; chunk_ids are dense from 0."""
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc
    stride = CHUNK - OVERLAP
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_id"])
        assert [r["chunk_id"] for r in rows] == list(range(len(rows)))
        assert all(r["n_chunks"] == len(rows) for r in rows)
        rebuilt: list[str] = []
        for r in rows:
            toks = r["chunk_text"].split(" ")
            assert 0 < len(toks) <= CHUNK
            rebuilt.extend(toks if r["chunk_id"] == 0 else toks[OVERLAP:])
        n_tokens = rows[0]["n_tokens"]
        assert len(rebuilt) == n_tokens
        # windows past the first start at chunk_id*stride: token at any
        # absolute position must agree between rebuilt stream and chunks
        for r in rows[1:]:
            start = r["chunk_id"] * stride
            assert r["chunk_text"].split(" ")[:OVERLAP] == rebuilt[start:start + OVERLAP]


def test_short_and_empty_docs(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, "   "), (4, " ".join(f"t{i}" for i in range(CHUNK)))],
        "doc_id: bigint, text: string",
    )
    rows = chunk_documents(docs, chunk_tokens=CHUNK, overlap=OVERLAP).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 4}  # empty/whitespace docs emit nothing
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_text"] == "a b c"
    assert len(by_doc[4]) == 1  # exactly CHUNK tokens -> single chunk


def test_bad_params_raise(spark):
    docs = load_table(spark, TEST_SF_DIR, "documents")
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=8, overlap=8)
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=8, overlap=-1)


try:
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=60), min_size=1, max_size=8
        ),
        st.integers(min_value=2, max_value=12),
        st.integers(min_value=0, max_value=6),
    )
    def test_chunking_reconstruction_on_random_docs(
        spark, n_tokens_per_doc, chunk, overlap
    ):
        """Generative invariant: for arbitrary doc lengths and any valid
        (chunk, overlap), concatenating chunks minus each non-first
        chunk's leading overlap reproduces the token stream exactly, and
        every chunk fits the window."""
        if overlap >= chunk:
            overlap = chunk - 1
        rows = [
            (i, " ".join(f"d{i}t{j}" for j in range(n)))
            for i, n in enumerate(n_tokens_per_doc)
        ]
        docs = spark.createDataFrame(rows, "doc_id: bigint, text: string")
        out = chunk_documents(docs, chunk, overlap).collect()
        by_doc: dict[int, list] = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for i, n in enumerate(n_tokens_per_doc):
            if n == 0:
                assert i not in by_doc
                continue
            rows_i = sorted(by_doc[i], key=lambda r: r["chunk_id"])
            rebuilt: list[str] = []
            for r in rows_i:
                toks = r["chunk_text"].split(" ")
                assert 0 < len(toks) <= chunk
                rebuilt.extend(toks if r["chunk_id"] == 0 else toks[overlap:])
            assert rebuilt == [f"d{i}t{j}" for j in range(n)]

except ImportError:  # pragma: no cover
    pass


def test_length_bucketed_batches_twin_and_properties(spark, duck):
    from nhl_data_pipeline_spark.operators.chunking import (
        length_bucketed_batches,
        length_bucketed_batches_sql,
    )

    docs = load_table(spark, TEST_SF_DIR, "documents").select("doc_id", "text")
    got_rows = length_bucketed_batches(docs, batch_size=8, bin_width=8).collect()
    got = {r["doc_id"]: (r["n_tokens"], r["bin"], r["batch_id"]) for r in got_rows}
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in duck.sql(
            length_bucketed_batches_sql(batch_size=8, bin_width=8)
        ).fetchall()
    }
    assert got == want and len(got) == docs.count()

    # properties: batch sizes bounded; within-batch length spread < bin
    by_batch: dict[int, list[int]] = {}
    for r in got_rows:
        by_batch.setdefault(r["batch_id"], []).append(r["n_tokens"])
    assert all(len(v) <= 8 for v in by_batch.values())
    assert all(max(v) - min(v) < 8 for v in by_batch.values())

    # determinism across partitionings
    again = {
        r["doc_id"]: (r["n_tokens"], r["bin"], r["batch_id"])
        for r in length_bucketed_batches(
            docs.repartition(7), batch_size=8, bin_width=8
        ).collect()
    }
    assert again == got


def test_curation_to_training_composition(spark):
    """The curation stages compose end-to-end: chunk long docs → score
    each chunk with the quality classifier → keep positives →
    length-bucketed batches. Checks the handoffs (column contracts) and
    the end state (every kept chunk lands in exactly one batch)."""
    from nhl_data_pipeline_spark.operators.chunking import (
        chunk_documents,
        length_bucketed_batches,
    )
    from nhl_data_pipeline_spark.operators.classifier import (
        classifier_score,
        demo_weights,
    )

    docs = load_table(spark, TEST_SF_DIR, "documents").select("doc_id", "text")
    chunks = chunk_documents(docs, chunk_tokens=16, overlap=4).select(
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("chunk_key"),
        F.col("chunk_text"),
    )
    scored = classifier_score(
        chunks, demo_weights(spark), id_col="chunk_key", text_col="chunk_text"
    )
    kept = chunks.join(
        scored.filter(F.col("keep")).select("chunk_key"), "chunk_key"
    )
    n_kept = kept.count()
    assert 0 < n_kept < chunks.count()  # the filter actually splits

    batched = length_bucketed_batches(
        kept, batch_size=8, bin_width=8, id_col="chunk_key", text_col="chunk_text"
    )
    assert sorted(r["chunk_key"] for r in batched.collect()) == sorted(
        r["chunk_key"] for r in kept.collect()
    )  # exactly once, no loss
