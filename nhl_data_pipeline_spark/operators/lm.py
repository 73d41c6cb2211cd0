"""Corpus n-gram language-model scoring: the perplexity-proxy quality gate.

CCNet-style curation ranks documents by how "in-distribution" their text
is under a reference language model. This operator trains the LM and
scores the docs in one distributed pipeline:

1. TRAIN: trigram and bigram-context counts over the (reference) corpus —
   two map-side-combinable groupBys; at 100 TB the model side is the
   distinct-ngram table, orders of magnitude smaller than the corpus.
2. SCORE: every doc's trigrams join the count tables; per-trigram
   probability is add-k smoothed  p = (c(xyz)+k) / (c(xy·)+k·V)  with
   k = 1/10, and the doc score is the MEAN in-context trigram
   probability.

Why mean probability, not log-perplexity — and why fixed-point: ln() is
not bit-identical across libm implementations, and even double→decimal
casts disagree between engines (Spark rounds the shortest string repr,
DuckDB the exact binary expansion), so any float accumulation would flake
a cross-engine hash gate in the last ulp. Instead every probability is
computed in EXACT integer arithmetic as
    p_fixed = (10·c_tri + 1) · 10¹² div (10·c_ctx + V)
(integer floor-division — multiply through by 10 clears k = 1/10), summed
per doc as a BIGINT (exact, order-independent), and converted to a double
mean only at the very end with one division sequence both engines execute
identically. Result: bit-exact parity, same ranking direction as
perplexity (higher = more typical). Overflow safety: the numerator
(10·c_tri+1)·10¹² is computed in DECIMAL(38,0) on the Spark side and
HUGEINT in the DuckDB twin, so counts up to ~10¹⁹ (any physical corpus)
stay exact; the division result itself is ≤ 1.1·10¹² (c_ctx ≥ c_tri by
construction) so the per-doc BIGINT sum has ~10⁶-trigram headroom per doc.

Self-scoring (train and score on the same corpus) is the held-in
configuration; pass a different `reference` frame for the CCNet shape
(score web text under a Wikipedia LM).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.operators.text import tokens

FIXED_POINT = 1_000_000_000_000  # 10^12


def _ngrams(d: DataFrame, n: int, *, id_col: str, text_col: str) -> DataFrame:
    """(id, gram) rows — whitespace-token n-grams, a pure codegen MAP:
    posexplode carrying the token array, the following tokens read by
    position with element_at (see dedup.exploded_distinct_shingles, same
    r13 rewrite WITHOUT the distinct). The pre-r13 lead-window form
    needed a hash distribution on id, which planted an EXCHANGE of the
    whole exploded token table in every lm plan (the corpus × tokens
    rows, shuffled only to sort for lead()); this form has no
    distribution requirement at all — the explode pipelines into the
    gram/context aggregates, whose own exchanges move far fewer bytes
    (grams are Heaps-law-sublinear in the corpus). Filter before
    element_at: ANSI mode throws on out-of-bounds array reads."""
    tok = d.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_tk")
    ).select(id_col, "_tk", F.posexplode(F.col("_tk")).alias("pos", "tok"))
    in_range = tok.filter(F.col("pos") + n <= F.size(F.col("_tk")))
    parts = [
        F.col("tok"),
        *[
            F.element_at(F.col("_tk"), F.col("pos") + (i + 1))
            for i in range(1, n)
        ],
    ]
    return in_range.select(
        id_col, F.concat_ws(" ", *parts).alias("gram")
    )


def _p_fixed_expr() -> "F.Column":
    """Add-k-smoothed trigram probability at 10⁻¹² fixed point, over
    c_tri / c_ctx / v columns — the ONE definition both scoring branches
    share, so self-scored and reference-scored can never drift.

    DECIMAL(38,0) numerator: (10·c_tri+1)·10¹² would wrap BIGINT once
    c_tri exceeds ~9.2e5 on a large/self-similar corpus; decimal keeps it
    exact to ~1e25 and `div` (IntegralDivide) on decimals still returns an
    exact BIGINT (a double round-trip would reintroduce float wobble).
    COALESCE covers the reference-scored branch's left joins (gram/ctx
    absent from the model → 0); in the self-scored inner join it is the
    identity."""
    return F.expr(
        f"(CAST(10 * COALESCE(c_tri, 0) + 1 AS DECIMAL(38,0)) * {FIXED_POINT})"
        " div CAST(10 * COALESCE(c_ctx, 0) + v AS DECIMAL(38,0))"
    )


def ngram_lm_score(
    docs: DataFrame,
    *,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    model_rows: int | None = None,
) -> DataFrame:
    """(id, n_trigrams, mean_tri_prob) per document.

    mean_tri_prob ≈ avg over the doc's trigrams of the add-1/10-smoothed
    in-context probability, quantized at 10⁻¹² (see module docstring).
    Docs with < 3 tokens produce no row (no trigrams to score).
    """
    # ``model_rows`` lets a caller that already knows (or memoizes) the
    # corpus size skip the count job — this is a plan BUILDER, and an
    # unconditional action here would run once per construction (5× per
    # benched query: 2 warmups + 3 timed). Resolved up front because both
    # the persist gate and the join-strategy gate below read it.
    if model_rows is None:
        model_src = reference if reference is not None else docs
        model_rows = model_src.count()
    big_model = model_rows > 20_000
    # SIZE-GATED persists: the trigram explode feeds two consumers and
    # the gram table three, but the InMemoryRelation build+read machinery
    # costs ~10× the recompute it saves while the corpus is small
    # (full-query executor CPU 11.7 vs 1.6 s at sf0.1; wall 4.80 vs
    # 4.35 s at sf1; compression off, 100K batches or MEMORY_ONLY move it
    # <30%). The ordering flips at sf10 (500K docs: wall 10.75 persisted
    # vs 17.86 recomputed, min over alternating fresh-JVM legs) where the
    # duplicated corpus-scale groupBy outweighs the cache build. Evidence:
    # bench_logs/r12/probe_persist_ab_sf01_v2.out (sf0.1),
    # probe_persist_ab_sf1.out (sf1) and persist_legs.log (sf10).
    # 100_000 splits the measured regimes (sf1 = 50K docs recompute-wins,
    # sf10 = 500K persist-wins); the gate rides the same memoized source
    # row count as the join strategy, so no extra action. MEMORY_AND_DISK
    # spills rather than OOMs; at 100 TB you would materialize the gram
    # table to the lake.
    persist_worthwhile = model_rows > 100_000
    tri_ref = _ngrams(
        reference if reference is not None else docs,
        3,
        id_col=id_col,
        text_col=text_col,
    )
    if persist_worthwhile:
        tri_ref = tri_ref.persist()
    # Aggregates/projections as parsed SQL strings (r12 chatter pass):
    # identical expression trees, one py4j round trip per string instead
    # of one per Column node.
    tri_counts = tri_ref.groupBy("gram").agg(
        F.expr("count(1)").alias("c_tri")
    )
    if persist_worthwhile:
        tri_counts = tri_counts.persist()
    # Size-aware join strategy for the MODEL-side joins (r7, found by the
    # sf1->sf3 sweep): the model table grows with the corpus (exactly
    # linearly on the rotated sweep lakes, Heaps-law in real text), so
    # AQE's size-based broadcast promotion eventually broadcasts a
    # hundreds-of-MB hash relation per run whose driver build + lingering
    # old-gen garbage (ContextCleaner reclaims broadcasts ASYNC) turns
    # wall-clock chaotic and superlinear — measured at sf3/816K grams:
    # 13.9-48.2 s across 6 runs (12g heap) vs 5.8-8.3 s STABLE with
    # shuffle joins; sf1/272K grams: shuffle 3.2 s already beats
    # broadcast's 3.6 s. Below the crossover the broadcast stays strictly
    # better (sf0.1/27K grams: 1.1 s vs 2.0 s). The true decision
    # variable is the model's distinct-gram count, but counting the
    # persisted model table at plan-construction time repopulates the
    # cache and perturbs every consumer's captured plan (the fingerprint
    # gate caught exactly that), so the gate uses the model-SOURCE row
    # count — a column-pruned parquet count, no cache side effects. The
    # 20K-doc threshold maps between the measured regimes (5K docs/27K
    # grams: broadcast wins; 50K docs/272K grams: shuffle wins); a
    # corpus of few huge documents would misjudge — at 100 TB this
    # decision comes from catalog distinct-count stats instead.
    # (``model_rows``/``big_model`` are resolved at the top of the
    # function, before the persist gate that shares them.)

    def _model_side(df: DataFrame) -> DataFrame:
        return df.hint("shuffle_hash") if big_model else df

    # Context counts from the MODEL table, not the corpus: every trigram
    # occurrence contributes exactly 1 to its 2-token prefix, so
    # c_ctx = Σ c_tri over grams sharing the prefix — identical counts,
    # but the groupBy runs at distinct-gram scale instead of re-shuffling
    # every corpus occurrence on the ctx string.
    ctx_counts = (
        tri_counts.selectExpr("substring_index(gram, ' ', 2) AS ctx", "c_tri")
        .groupBy("ctx")
        .agg(F.sum("c_tri").alias("c_ctx"))
    )
    v = tri_counts.selectExpr("count(1) AS v")

    if reference is None:
        # Self-scored: every doc trigram is in the model by construction,
        # and p_fixed is a function of the GRAM alone — so compute it once
        # per distinct gram (model scale: ctx join + arithmetic over the
        # distinct-ngram table) and join it back to occurrences on an
        # 8-byte xxhash64 key instead of the ~20-byte gram string. A
        # gram-hash collision would merge two model rows (birthday bound
        # ~G²/2⁶⁵); the string-keyed DuckDB oracle cross-checks every
        # score. Corpus-scale work drops from [ctx groupBy + 2-key join +
        # doc groupBy] to [gram-count groupBy + 1 long-key join + doc
        # groupBy].
        model = (
            tri_counts.withColumn(
                "ctx", F.expr("substring_index(gram, ' ', 2)")
            )
            .join(_model_side(ctx_counts), "ctx")
            .crossJoin(F.broadcast(v))
            .select(
                F.expr("xxhash64(gram)").alias("gk"),
                _p_fixed_expr().alias("p_fixed"),
            )
        )
        scored = tri_ref.selectExpr(
            id_col, "xxhash64(gram) AS gk"
        ).join(_model_side(model), "gk")
    else:
        tri_doc = _ngrams(docs, 3, id_col=id_col, text_col=text_col).select(
            id_col,
            F.col("gram"),
            F.expr("substring_index(gram, ' ', 2)").alias("ctx"),
        )
        scored = (
            tri_doc.join(_model_side(tri_counts), "gram", "left")
            .join(_model_side(ctx_counts), "ctx", "left")
            .crossJoin(F.broadcast(v))
            .select(id_col, _p_fixed_expr().alias("p_fixed"))
        )
    # Exact BIGINT sum (order-independent), then ONE identical double
    # division sequence in both engines.
    return scored.groupBy(id_col).agg(
        F.expr("count(1)").alias("n_trigrams"),
        F.expr(
            "CAST(sum(p_fixed) AS DOUBLE) / CAST(count(1) AS DOUBLE)"
            f" / {float(FIXED_POINT)!r}D"
        ).alias("mean_tri_prob"),
    )


def ngram_lm_score_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of the self-scored :func:`ngram_lm_score`."""
    toks = f"string_split_regex({text_col}, '\\s+')"
    tri = (
        f"list_transform(generate_series(1, len({toks}) - 2),"
        f" i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2])"
    )
    return f"""
        WITH tri AS (
            SELECT {id_col}, unnest({tri}) AS gram FROM {table}
        ),
        tri_counts AS (
            SELECT gram, CAST(count(*) AS BIGINT) AS c_tri FROM tri GROUP BY 1
        ),
        ctx_counts AS (
            SELECT concat_ws(' ', string_split(gram, ' ')[1],
                             string_split(gram, ' ')[2]) AS ctx,
                   CAST(count(*) AS BIGINT) AS c_ctx
            FROM tri GROUP BY 1
        ),
        v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM tri_counts),
        scored AS (
            SELECT t.{id_col},
                   CAST(CAST(10 * COALESCE(tc.c_tri, 0) + 1 AS HUGEINT)
                        * {FIXED_POINT}
                        // (10 * COALESCE(cc.c_ctx, 0) + v.v) AS BIGINT)
                       AS p_fixed
            FROM tri t
            LEFT JOIN tri_counts tc USING (gram)
            LEFT JOIN ctx_counts cc
              ON cc.ctx = concat_ws(' ', string_split(t.gram, ' ')[1],
                                    string_split(t.gram, ' ')[2])
            CROSS JOIN v
        )
        SELECT {id_col},
               CAST(count(*) AS BIGINT) AS n_trigrams,
               CAST(sum(p_fixed) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   / CAST({FIXED_POINT} AS DOUBLE) AS mean_tri_prob
        FROM scored GROUP BY 1
    """
