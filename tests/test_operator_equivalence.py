"""Equivalence of each operator's fast path vs its reference form.

The dedup/similarity operators ship multiple implementations (interpreted
HOF array form, Arrow-batched pandas form, codegen exploded form) that must
be EXACTLY interchangeable — same sets, same float bits — because one
oracle serves them all. These tests pin that on adversarial inputs the
synthetic lake doesn't contain: docs below the shingle width, repeated
shingles, unicode tokens, empty-ish vectors.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.operators import dedup as D
from nhl_data_pipeline_spark.operators import similarity as S

WORDS = ["a", "b", "c", "aa", "bb", "naïve", "Łódź", "x1", "—", "z"]


@pytest.fixture(scope="module")
def token_docs(spark):
    rng = random.Random(7)
    rows = []
    for i in range(60):
        n = rng.choice([0, 1, 2, 3, 4, 10, 25])
        toks = [rng.choice(WORDS) for _ in range(n)]
        if i % 5 == 0 and n >= 6:
            toks = toks[:3] * (n // 3)  # force repeated shingles
        rows.append((i, toks))
    return spark.createDataFrame(rows, "doc_id long, toks array<string>")


def test_exploded_shingles_equal_array_form(spark, token_docs):
    fast = D.exploded_distinct_shingles(token_docs, F.col("toks"), 3)
    ref = token_docs.select(
        "doc_id", F.explode(D.shingles(F.col("toks"), 3)).alias("s")
    )
    ref_n = ref.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ref_full = ref.join(ref_n, "doc_id").select("doc_id", "s", "n")
    assert fast.exceptAll(ref_full).count() == 0
    assert ref_full.exceptAll(fast).count() == 0
    # docs below the shingle width vanish in BOTH forms
    assert fast.filter(F.col("doc_id").isin(
        [r["doc_id"] for r in token_docs.filter(F.size("toks") < 3).collect()]
    )).count() == 0


def _brute_jaccard_pairs(texts: dict[int, str]) -> set[tuple[int, int, float]]:
    """All pairs a < b with 3-gram-set Jaccard >= 0.8, in plain Python."""
    grams = {}
    for i, t in texts.items():
        toks = t.split()
        grams[i] = {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}
    out = set()
    for a in grams:
        for b in grams:
            if a < b and grams[a] and grams[b]:
                j = len(grams[a] & grams[b]) / len(grams[a] | grams[b])
                if j >= 0.8:
                    out.add((a, b, j))
    return out


def test_jaccard_pairs_match_bruteforce(spark):
    """D.jaccard_pairs — the product pair join — against brute-force
    Python Jaccard, with and without an explicit width. Includes a pair
    exactly on the bound (4 of 5 trigrams: J = 0.8 and 4·5 = 5·4 on the
    length prefilter), one just below it (J = 7/9), identical docs, a doc
    below the shingle width and seeded random texts."""
    ten = " ".join(f"w{i}" for i in range(10))
    texts = {
        1: "a b c d e f",
        2: "a b c d e f g",  # J(1, 2) = 4/5, exactly the bound
        3: ten,
        4: ten.rsplit(" ", 1)[0] + " zz",  # J(3, 4) = 7/9, just below
        5: "p q r s t",
        6: "p q r s t",  # identical: J = 1
        7: "a b",  # no trigram
    }
    rng = random.Random(11)
    for i in range(8, 40):
        base = texts[rng.choice([1, 2, 3, 5])].split()
        edits = rng.randint(0, 2)
        for _ in range(edits):
            base[rng.randrange(len(base))] = rng.choice(WORDS)
        texts[i] = " ".join(base + [rng.choice(WORDS)] * rng.randint(0, 2))
    want = _brute_jaccard_pairs(texts)
    assert (1, 2, 0.8) in want and all(p[:2] != (3, 4) for p in want)

    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    sh = D.exploded_distinct_shingles(
        docs, F.split("text", " "), 3, hash_shingles=True
    )
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for width in (None, 3, session + 1):
        got = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in D.jaccard_pairs(sh, width).collect()
        }
        assert got == want, width


def test_simhash_exploded_equals_array_fold(spark, token_docs):
    fast = {
        (r["doc_id"], r["simhash16"])
        for r in D.simhash_exploded(token_docs, F.col("toks"), 16).collect()
    }
    ref = {
        (r["doc_id"], r["simhash16"])
        for r in token_docs.select(
            "doc_id", D.simhash("toks", 16).alias("simhash16")
        ).collect()
    }
    assert fast == ref  # includes empty-token docs (bits all zero)


def test_cosine_allpairs_numpy_empty_input(spark):
    """Zero-row input must yield an empty frame, not an IndexError from
    2-D-indexing a (0,)-shaped collected matrix."""
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = S.cosine_allpairs_numpy(df, threshold=0.4)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vec_a", "vec_b", "cosine"]


def test_cosine_allpairs_numpy_bit_equals_jvm_fold(spark):
    rng = random.Random(11)
    dim = 16
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)
    ]
    # near-duplicate cluster so pairs cross the threshold
    base = rows[0][1]
    for i in range(1, 6):
        rows[i] = (i, [v + rng.uniform(-0.01, 0.01) for v in base])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    fast = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in S.cosine_allpairs_numpy(df, threshold=0.4).collect()
    }
    e = S.with_norm(df)
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
                 F.col("nrm").alias("na"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
                 F.col("nrm").alias("nb"))
    cos = F.expr(f"{S.dot_expr_sql('ea', 'eb')} / (na * nb)")
    ref = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.4)
        .select("vec_a", "vec_b", "cosine")
        .collect()
    }
    assert set(fast) == set(ref)
    for k in ref:  # float BITS, not approx — one oracle serves both forms
        assert fast[k] == ref[k], (k, fast[k].hex(), ref[k].hex())


# ---------------------------------------------------------------------------
# Repetition stats (Gopher-style) vs a Python brute force, and PII redaction
# vs the literal-same-regex DuckDB oracle fragment.

PII_TEXTS = [
    "contact me at jane.doe+spam@example.co.uk today",
    "server at 192.168.001.1 and 10.0.0.255 rebooted",
    "ssn 123-45-6789 leaked; call +1 (555) 123-4567 or 555-123-4567",
    "no pii here, just 12345 and v1.2 release notes",
    "mixed: a@b.io then 1.2.3.4 then 987-65-4321 done",
    "",
    "unicode naïve test — a@ü.com stays (non-ascii host not matched)",
]


def _brute_bigram_stats(text: str) -> tuple[int, int, int]:
    import re
    from collections import Counter

    toks = re.split(r"\s+", text)
    bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    cnt = Counter(bgs)
    top = max(cnt.values(), default=0)
    dup = sum(c for c in cnt.values() if c > 1)
    return len(bgs), top, dup


def test_repetition_stats_match_bruteforce(spark):
    """repetition_agg over a pre-split tokens column equals a Python brute
    force; docs with no bigrams produce no row."""
    from nhl_data_pipeline_spark.operators import text as X

    rng = random.Random(11)
    words = ["alpha", "beta", "gamma", "x", "y"]
    texts = [
        "a b a b c a b",
        "x",
        "",
        "a a a a a a",
        "q w e r t y",
        "a b a b a b a b",
        "one two one two three one two",
    ]
    for _ in range(40):
        n = rng.choice([0, 1, 2, 5, 30, 120])
        texts.append(" ".join(rng.choice(words) for _ in range(n)))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    brute = {i: _brute_bigram_stats(t) for i, t in enumerate(texts)}
    want = {i: s for i, s in brute.items() if s[0] > 0}
    assert len(want) < len(brute)  # no-bigram docs are in the input

    cols = ["doc_id", "n_bigrams", "top_bigram_n", "dup_bigram_mass"]

    def stats(agg):
        return {r[0]: tuple(r[1:]) for r in agg.select(*cols).collect()}

    toks = df.select("doc_id", X.tokens("text").alias("toks"))
    assert stats(X.repetition_agg(toks, tokens_col="toks")) == want


def test_redact_pii_matches_duckdb_oracle(spark, duck):
    from nhl_data_pipeline_spark.operators import text as X

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(PII_TEXTS)], "i long, text string"
    )
    got = {
        r["i"]: r["red"]
        for r in df.select("i", X.redact_pii("text").alias("red")).collect()
    }
    for i, t in enumerate(PII_TEXTS):
        lit = "'" + t.replace("'", "''") + "'"
        (oracle,) = duck.execute("SELECT " + X.redact_pii_sql(lit)).fetchone()
        assert got[i] == oracle, (t, got[i], oracle)
    # spot-check the semantics, not just cross-engine agreement
    assert "[EMAIL]" in got[0] and "@" not in got[0]
    assert got[1].count("[IP]") == 2
    assert "[SSN]" in got[2] and "[PHONE]" in got[2]
    assert got[3] == PII_TEXTS[3]  # no false positives on versions/ids


def test_pii_hits_counts(spark):
    from nhl_data_pipeline_spark.operators import text as X

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(PII_TEXTS)], "i long, text string"
    )
    got = {
        r["i"]: r["n"] for r in df.select("i", X.pii_hits("text").alias("n")).collect()
    }
    assert got[0] == 1 and got[1] == 2 and got[2] == 3
    assert got[3] == 0 and got[4] == 3 and got[5] == 0
