"""Domain-mixture sampler: budget/mix semantics + determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.operators import mixing as MX
from nhl_data_pipeline_spark.operators import text as X
from tests.conftest import TEST_SF_DIR

WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
BUDGET = 2_000


def _docs(spark):
    return load_table(spark, TEST_SF_DIR, "documents")


def test_mixture_sample_matches_duckdb_twin(spark, duck):
    got = {
        (r["doc_id"], r["source"], r["sample_key"])
        for r in MX.mixture_sample(_docs(spark), WEIGHTS, BUDGET).collect()
    }
    want = {
        tuple(r)
        for r in duck.sql(MX.mixture_sample_sql(WEIGHTS, BUDGET)).fetchall()
    }
    assert got == want and len(got) > 0


def test_mixture_excludes_zero_weight_sources(spark):
    out = MX.mixture_sample(_docs(spark), WEIGHTS, BUDGET)
    assert out.filter(~F.col("source").isin(*WEIGHTS)).count() == 0


def test_mixture_keep_set_matches_independent_python_model(spark):
    """The kept doc set equals an independent Python reimplementation of
    the rate math (hashlib md5, float64 rates) — exact, no sampling
    tolerance. Also covers the rate-clamp branch when budget·w ≥ T_s."""
    import hashlib
    import math

    d = _docs(spark)
    toks = d.select(
        "doc_id", "source", F.size(X.tokens(F.col("text"))).alias("n_toks")
    ).collect()
    totals: dict[str, int] = {}
    for r in toks:
        totals[r["source"]] = totals.get(r["source"], 0) + r["n_toks"]

    want = set()
    for r in toks:
        w = WEIGHTS.get(r["source"], 0.0)
        if w <= 0:
            continue
        rate = min(1.0, BUDGET * w / float(totals[r["source"]]))
        key = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8]
        thr = format(math.floor(rate * (1 << 32)), "x").rjust(8, "0")
        if rate >= 1.0 or key < thr:
            want.add((r["doc_id"], r["source"]))

    got = {
        (r["doc_id"], r["source"])
        for r in MX.mixture_sample(_docs(spark), WEIGHTS, BUDGET).collect()
    }
    assert got == want and len(got) > 0

    # big enough budget → every weighted source keeps everything (clamp)
    all_in = MX.mixture_sample(_docs(spark), WEIGHTS, 10_000_000)
    n_weighted = sum(1 for r in toks if WEIGHTS.get(r["source"], 0.0) > 0)
    assert all_in.count() == n_weighted


def test_mixture_is_partitioning_invariant(spark):
    d = _docs(spark)
    a = {tuple(r) for r in MX.mixture_sample(d, WEIGHTS, BUDGET).collect()}
    b = {
        tuple(r)
        for r in MX.mixture_sample(d.repartition(13), WEIGHTS, BUDGET).collect()
    }
    assert a == b


def test_mixture_zero_token_source_keeps_all(spark):
    """A weighted source with zero total tokens must not error (ANSI
    divide-by-zero) and keeps everything — its rows cost nothing against
    the token budget, matching the SQL twin where the double division
    yields inf and least() clamps the rate to 1."""
    docs = spark.createDataFrame(
        [
            (1, "srcA", "real tokens here"),
            (2, "srcB", ""),  # tokenizes to one empty-string token
        ],
        "doc_id long, source string, text string",
    )
    from pyspark.sql import functions as F2

    out = MX.mixture_sample(
        docs,
        {"srcA": 0.5, "srcB": 0.5},
        100,
        tokens_col=F2.size(
            F2.filter(X.tokens(F2.col("text")), lambda t: F2.length(t) > 0)
        ),
    )
    got = {(r["doc_id"], r["source"]) for r in out.collect()}
    assert got == {(1, "srcA"), (2, "srcB")}


def test_rate_threshold_edge_cases(spark):
    """rate→hex threshold: 0 keeps nothing, mid-range thresholds are the
    exact hex fraction, and the keep-all branch short-circuits lpad's
    truncation hazard (16^8 is 9 hex chars)."""
    row = spark.range(1).select(
        MX.rate_to_threshold(F.lit(0.0)).alias("z"),
        MX.rate_to_threshold(F.lit(0.5)).alias("h"),
        MX.rate_to_threshold(F.lit(1.0)).alias("one"),
    ).collect()[0]
    assert row["z"] == "00000000"
    assert row["h"] == "80000000"
    # lpad truncates '100000000' to 8 chars — this is why callers must
    # special-case rate >= 1 instead of comparing against this string
    assert row["one"] == "10000000"
