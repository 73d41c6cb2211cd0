"""Count-min sketch: cross-engine build parity + estimation guarantees."""

from __future__ import annotations

from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.operators import sketch as SK
from nhl_data_pipeline_spark.operators.text import tokens
from tests.conftest import TEST_SF_DIR


def _docs(spark):
    return load_table(spark, TEST_SF_DIR, "documents").select("doc_id", "text")


def test_cms_build_matches_duckdb_twin(spark, duck):
    got = {
        (r["row_i"], r["bucket"]): r["n"]
        for r in SK.cms_build(_docs(spark)).collect()
    }
    want = {(r[0], r[1]): r[2] for r in duck.sql(SK.cms_build_sql()).fetchall()}
    assert got == want
    assert len(got) <= SK.D_ROWS * SK.W_BUCKETS
    # every row of the sketch sums to the total token count
    total = sum(n for (i, _), n in got.items() if i == 0)
    for i in range(SK.D_ROWS):
        assert sum(n for (ri, _), n in got.items() if ri == i) == total


def test_cms_estimates_bound_true_counts(spark):
    docs = _docs(spark)
    sketch = SK.cms_build(docs)
    exact = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    n_total = exact.agg(F.sum("true_n")).collect()[0][0]
    est = SK.cms_estimate(sketch, exact.select("token"))
    joined = {
        r["token"]: (r["true_n"], r["est"])
        for r in exact.join(est, "token").collect()
    }
    assert len(joined) > 20  # the synthetic corpus has a ~31-token vocab
    overs = []
    for tok, (true_n, e) in joined.items():
        assert e >= true_n, (tok, true_n, e)  # CMS never underestimates
        overs.append(e - true_n)
    # ε = 2/w one-sided error bound: the MEDIAN overestimate must sit well
    # inside 2N/w (the per-query w.h.p. bound); a few collisions may exceed
    overs.sort()
    assert overs[len(overs) // 2] <= 2 * n_total / SK.W_BUCKETS
    # heavy hitters stay ordered: the true top token is the estimated top
    top_true = max(joined, key=lambda t: joined[t][0])
    top_est = max(joined, key=lambda t: joined[t][1])
    assert joined[top_est][0] >= 0.5 * joined[top_true][0]


def test_hll_count_distinct_within_rsd(spark):
    """Backs the A6 'HLL variant at scale' note: Spark's built-in
    approx_count_distinct (HLL++) lands within the configured rsd of the
    exact distinct token count."""
    toks = (
        _docs(spark)
        .select(F.explode(tokens(F.col("text"))).alias("t"))
        .filter(F.length("t") > 0)
    )
    exact = toks.select(F.count_distinct("t")).collect()[0][0]
    approx = toks.select(F.approx_count_distinct("t", rsd=0.02)).collect()[0][0]
    assert abs(approx - exact) <= 4 * 0.02 * exact  # 4 sigma of headroom
