"""Text-analysis + dedup queries over the documents table.

The training-data-pipeline extension surface (BASELINE.json north star):
token stats, language ID, quality scoring, fingerprint dedup, n-gram
Jaccard, MinHash+LSH, SimHash. Oracle SQL is generated from the same specs
as the Spark expressions (operators.text / operators.dedup `_sql` twins).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nhl_data_pipeline_spark.catalog import footer, load_table
from nhl_data_pipeline_spark.operators import classifier as CL
from nhl_data_pipeline_spark.operators import cluster as C
from nhl_data_pipeline_spark.operators import dedup as D
from nhl_data_pipeline_spark.operators import report as RP
from nhl_data_pipeline_spark.operators import spans as SP
from nhl_data_pipeline_spark.operators import lines as L
from nhl_data_pipeline_spark.operators import lm as LM
from nhl_data_pipeline_spark.operators import sketch as SK
from nhl_data_pipeline_spark.operators import mixing as MX
from nhl_data_pipeline_spark.operators import multimodal as M
from nhl_data_pipeline_spark.operators import text as X
from nhl_data_pipeline_spark.plans.registry import query

_TOKS = "string_split_regex(text, '\\s+')"


def _lang_quality_scored(
    d: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """doc_id + lang_hat + quality via a single-tokenize projection.

    Value-identical to the ``X.lang_id_sql`` / ``X.quality_score_sql``
    oracle forms, but `split` runs once per row: the token array and
    per-language hit counts materialize in their own projection
    (CollapseProject keeps it separate — the array is non-cheap and
    multiply-referenced), and the CASE chain compares precomputed ints.

    ``passthrough`` columns of ``d`` ride through the projections — so a
    caller that already holds side columns (curation_pipeline's
    ``n_removed``) doesn't need a second join back onto its own subtree
    to recover them (that join re-evaluated the whole
    strip-frequent-lines branch a second time)."""
    # The rules are Spark-SQL strings (operators.text *_spark_sql): one
    # py4j round trip each, where Column-API builds cost ~2,000 here.
    counted = d.select(
        "doc_id", *passthrough, X.tokens(F.col("text")).alias("_toks")
    ).selectExpr(
        "doc_id",
        *passthrough,
        "size(_toks) AS _n",
        "size(array_distinct(_toks)) AS _nu",
        *[
            f"{X.hits_in_tokens_spark_sql('_toks', ws)} AS _h_{lang}"
            for lang, ws in X.LANG_STOPWORDS.items()
        ],
        f"{X.hits_in_tokens_spark_sql('_toks', X.ALL_STOPWORDS)} AS _h_stop",
    )
    hat = X.lang_id_from_hits_spark_sql(
        {lang: f"_h_{lang}" for lang in X.LANG_STOPWORDS}
    )
    q = X.quality_from_counts_spark_sql("_n", "_h_stop", "_nu")
    return counted.selectExpr(
        "doc_id", *passthrough, f"{hat} AS lang_hat", f"{q} AS quality"
    )


@query(
    "text_profile",
    covers="LLM-text,token-counting,lang-id,quality-scoring",
    bench=True,
    oracle=f"""
        SELECT doc_id, n_chars,
               CAST(len({_TOKS}) AS INT) AS n_tokens,
               CAST(len(list_distinct({_TOKS})) AS INT) AS n_unique_tokens,
               CAST(length(text) AS INT) AS text_len,
               CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) AS unique_ratio,
               lang,
               {X.lang_id_sql('text')} AS lang_hat,
               CASE WHEN {X.lang_id_sql('text')} = lang THEN TRUE ELSE FALSE END AS agrees,
               {X.quality_score_sql('text')} AS quality,
               CASE WHEN {X.quality_score_sql('text')} >= 0.75 THEN TRUE ELSE FALSE END AS keep,
               {X.top_bigram_frac_sql('text')} AS top_bigram_frac,
               {X.dup_bigram_frac_sql('text')} AS dup_bigram_frac,
               CASE WHEN {X.top_bigram_frac_sql('text')} > 0.2 THEN TRUE ELSE FALSE END AS repetitious,
               ({X.gopher_flags_sql('text')}).pass_gopher AS pass_gopher
        FROM documents
    """,
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-analysis profile, one scan, one projection, no
    UDFs: token counting + lexical diversity, the stopword-hit language-ID
    heuristic vs the labeled lang column, the quality score (length +
    non-stopword mass + diversity) with its keep threshold, and the
    Gopher-style repetition signals (top-/duplicated-bigram fractions,
    computed on the exploded codegen aggregate — operators.text.
    repetition_agg — and joined back per doc). The row signals share the
    tokenization subtree; profiling a corpus is one scan plus one
    doc_id-keyed aggregate however many signals ride along."""
    # Hash-repartition by doc_id up front (parallelizes the single-file
    # read AND pre-satisfies the repetition groupBy + profile⋈repetition
    # join distributions): the one shuffle moves compact doc rows, not
    # exploded bigrams/profile rows — measured ~30% off at sf0.1.
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    # Tokenize ONCE into a materialized column; the two projections stay
    # separate (CollapseProject won't inline a non-cheap expr referenced
    # many times), so `split` runs once per row instead of once per CASE
    # branch of the lang-ID chain (~40× fewer splits; the chain's
    # conditionals defeat codegen subexpression elimination).
    toked = d.select(
        "doc_id", "n_chars", "lang",
        F.length("text").alias("text_len"),
        X.tokens(F.col("text")).alias("_toks"),
    )
    # The stopword-hit battery, the gopher conjunction and the lang-ID
    # CASE chain are Spark-SQL strings (operators.text *_spark_sql): a
    # handful of py4j calls per build, where Column-API builds cost
    # ~3,200 round trips (~0.42 s re-paid inside every timed rep).
    counted = toked.selectExpr(
        "doc_id", "n_chars", "lang", "text_len",
        "size(_toks) AS n_tokens",
        "size(array_distinct(_toks)) AS n_unique_tokens",
        *[
            f"{X.hits_in_tokens_spark_sql('_toks', ws)} AS _h_{lang}"
            for lang, ws in X.LANG_STOPWORDS.items()
        ],
        f"{X.hits_in_tokens_spark_sql('_toks', X.ALL_STOPWORDS)} AS _h_stop",
        f"{X.gopher_pass_spark_sql('_toks')} AS pass_gopher",
    )
    hat = X.lang_id_from_hits_spark_sql(
        {lang: f"_h_{lang}" for lang in X.LANG_STOPWORDS}
    )
    q = X.quality_from_counts_spark_sql(
        "n_tokens", "_h_stop", "n_unique_tokens"
    )
    prof = counted.selectExpr(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_unique_tokens",
        "text_len",
        "CAST(n_unique_tokens AS DOUBLE) / n_tokens AS unique_ratio",
        "lang",
        f"{hat} AS lang_hat",
        f"({hat}) = lang AS agrees",
        f"{q} AS quality",
        f"({q}) >= 0.75D AS keep",
        "pass_gopher",
    )
    # Repetition signals ride the exploded codegen aggregate (~20× the
    # per-row fold even on short docs — operators.text.repetition_agg),
    # left-joined back on doc_id with bigram-less docs zero-filled. The
    # explode subtree reuses the same single-tokenize projection.
    rep = X.repetition_agg(
        d.select("doc_id", X.tokens(F.col("text")).alias("_toks")),
        tokens_col="_toks",
    )
    nbg = "COALESCE(n_bigrams, CAST(0 AS BIGINT))"
    top_frac = (
        f"CASE WHEN {nbg} > 0 THEN"
        f" COALESCE(top_bigram_n, CAST(0 AS BIGINT)) / {nbg}"
        f" ELSE 0.0D END"
    )
    dup_frac = (
        f"CASE WHEN {nbg} > 0 THEN"
        f" COALESCE(dup_bigram_mass, CAST(0 AS BIGINT)) / {nbg}"
        f" ELSE 0.0D END"
    )
    return prof.join(rep, "doc_id", "left").select(
        prof["*"],
        F.expr(top_frac).alias("top_bigram_frac"),
        F.expr(dup_frac).alias("dup_bigram_frac"),
        F.expr(f"({top_frac}) > 0.2D").alias("repetitious"),
    )


_SH_SQL = D.shingles_sql(_TOKS, 3)


def _ledger_band_table_sql(src: str, bands: int = 4) -> str:
    """DuckDB twin of ``operators/dedup.lsh_band_table`` (WITH
    short_doc_fallback) over the CTE named `src` — two CTE defs + a final
    band CTE named `{src}_bands`. Shares the signature/band-key generators
    with the batch `dedup_minhash_lsh` oracle so batch and incremental
    recall can't drift."""
    fp0 = X.fingerprint_sql("coalesce(text, '')")
    return f"""
        {src}_shg AS (
            SELECT doc_id, {_SH_SQL} AS sh
            FROM {src} WHERE len({_TOKS}) >= 3
        ),
        {src}_sigs AS (
            SELECT doc_id, {D.minhash_signature_sql('sh', 12)} AS sig
            FROM {src}_shg
        ),
        {src}_bands AS (
            SELECT doc_id,
                   CAST(unnest(generate_series(1, {bands})) AS BIGINT)
                       AS band_idx,
                   unnest({D.lsh_band_keys_sql('sig', bands, 3)}) AS band_key
            FROM {src}_sigs
            UNION ALL
            SELECT doc_id, CAST(0 AS BIGINT), {fp0}
            FROM {src} WHERE (len({_TOKS}) >= 3) IS NOT TRUE
        )"""


@query(
    "doc_signature_dedup",
    covers=(
        "LLM-dedup-exact,LLM-dedup-simhash,LLM-dedup-ledger-exact,"
        "LLM-dedup-ledger-neardup,A1"
    ),
    oracle=f"""
        WITH sig AS (
            SELECT doc_id, {X.fingerprint_sql('text')} AS fp,
                   {D.simhash_sql(_TOKS, 16)} AS simhash16
            FROM documents
        ),
        grp AS (
            SELECT fp, CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
                   CAST(count(*) AS BIGINT) AS n_dups
            FROM sig GROUP BY 1
        ),
        hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
        {_ledger_band_table_sql('hist')},
        {_ledger_band_table_sql('inc')},
        flag AS (
            SELECT i.doc_id, CAST(min(l.doc_id) AS BIGINT) AS min_owner,
                   CAST(count(DISTINCT l.doc_id) AS BIGINT) AS n_cand
            FROM inc_bands i
            JOIN hist_bands l USING (band_idx, band_key)
            GROUP BY 1
        )
        SELECT 'sig' AS op, s.doc_id, s.fp, g.keep_doc_id, g.n_dups,
               s.simhash16
        FROM sig s JOIN grp g USING (fp)
        UNION ALL
        SELECT 'ledger_exact', i.doc_id, i.fp, CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        FROM (SELECT s.doc_id, s.fp FROM sig s JOIN inc USING (doc_id)) i
        LEFT JOIN (SELECT DISTINCT s.fp FROM sig s
                   JOIN hist USING (doc_id)) h ON i.fp = h.fp
        WHERE h.fp IS NULL
        UNION ALL
        SELECT 'ledger_near_flag', doc_id, CAST(NULL AS VARCHAR),
               min_owner, n_cand, CAST(NULL AS BIGINT)
        FROM flag
        UNION ALL
        SELECT 'ledger_near_kept', i.doc_id, CAST(NULL AS VARCHAR),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT)
        FROM inc i LEFT JOIN flag f USING (doc_id) WHERE f.doc_id IS NULL
        UNION ALL
        SELECT 'ledger_delta', b.doc_id, b.band_key, CAST(NULL AS BIGINT),
               b.band_idx, CAST(NULL AS BIGINT)
        FROM inc_bands b LEFT JOIN flag f USING (doc_id)
        WHERE f.doc_id IS NULL
    """,
)
def doc_signature_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc content signatures + exact dedup verdict, union-tagged with
    the INCREMENTAL ledger dedup family. The branches stay one query
    because they share stages: 'sig' and 'ledger_exact' read one
    persisted base projection, and the three 'ledger_near_*'/'ledger_delta'
    branches read one ledger band-table join.

    'sig' branch: the doc's 16-byte canonical fingerprint (exact-dedup
    key), the group's keep_doc_id / n_dups from the hash-aggregate dedup
    (`operators/dedup.exact_dedup_keep_min`), and the 16-bit SimHash
    near-dup bucket (`simhash_exploded`, codegen explode+sum form).
    Scale shape: ONE persisted base projection (doc_id, fp, toks) feeds
    all three consumers — without it the plan scans the documents table
    three times; the dedup aggregate moves 16-byte
    fingerprints only; the annotate-back join is fp↔fp hash join (both
    sides already hashed by fp); SimHash is one exchange of (id, 16
    partial sums).

    Ledger branches replay a crawl increment (odd doc_ids) against the
    accumulated history (even doc_ids) — history TEXT is never rescanned,
    only its 16 B/doc fingerprint ledger and (16+4) B×bands band-key
    ledger (`operators/dedup.py::dedup_against_reference` /
    `neardup_against_ledger`):

    - 'ledger_exact': increment docs surviving the exact-fingerprint
      anti-join (fp reuses the persisted base projection).
    - 'ledger_near_flag': increment docs sharing ≥1 MinHash-LSH band key
      with history — keep_doc_id carries the smallest colliding owner,
      n_dups the distinct-owner count (provenance for targeted verify).
    - 'ledger_near_kept': increment docs with no ledger collision
      (admitted; batch-internal dedup composes separately).
    - 'ledger_delta': the admitted docs' band rows (fp=band_key,
      n_dups=band_idx) — the exact rows the ledger accrues for the next
      increment, closing the idempotence loop.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id")
        )
        .select(
            "doc_id",
            X.fingerprint(F.col("text")).alias("fp"),
            X.tokens(F.col("text")).alias("toks"),
        )
        .persist()
    )
    sh = D.simhash_exploded(
        base.select("doc_id", "toks"), F.col("toks"), 16
    )
    grp = D.exact_dedup_keep_min(base, F.col("fp"), "doc_id")
    nul_s = lambda a: F.lit(None).cast("string").alias(a)  # noqa: E731
    nul_b = lambda a: F.lit(None).cast("bigint").alias(a)  # noqa: E731
    sig = (
        base.select("doc_id", "fp")
        .join(grp, "fp")
        .join(sh, "doc_id")
        .select(
            F.lit("sig").alias("op"),
            "doc_id", "fp", "keep_doc_id", "n_dups", "simhash16",
        )
    )
    even = F.col("doc_id") % 2 == 0
    exact = D.dedup_against_reference(
        base.filter(~even).select("doc_id", "fp"),
        base.filter(even).select("fp"),
        F.col("fp"),
    ).select(
        F.lit("ledger_exact").alias("op"),
        "doc_id", "fp",
        nul_b("keep_doc_id"), nul_b("n_dups"), nul_b("simhash16"),
    )
    ledger = D.lsh_band_table(docs.filter(even)).select(
        "band_idx", "band_key", F.col("doc_id").alias("owner_id")
    )
    kept_n, flagged, delta = D.neardup_against_ledger(
        docs.filter(~even), ledger
    )
    flag = flagged.select(
        F.lit("ledger_near_flag").alias("op"),
        "doc_id", nul_s("fp"),
        F.array_min("candidate_owners").cast("bigint").alias("keep_doc_id"),
        F.size("candidate_owners").cast("bigint").alias("n_dups"),
        nul_b("simhash16"),
    )
    kept = kept_n.select(
        F.lit("ledger_near_kept").alias("op"),
        "doc_id", nul_s("fp"),
        nul_b("keep_doc_id"), nul_b("n_dups"), nul_b("simhash16"),
    )
    accrue = delta.select(
        F.lit("ledger_delta").alias("op"),
        F.col("owner_id").alias("doc_id"),
        F.col("band_key").alias("fp"),
        nul_b("keep_doc_id"),
        F.col("band_idx").cast("bigint").alias("n_dups"),
        nul_b("simhash16"),
    )
    return (
        sig.unionByName(exact)
        .unionByName(flag)
        .unionByName(kept)
        .unionByName(accrue)
    )


@query(
    "dedup_ngram_jaccard",
    covers="LLM-dedup-jaccard,F1,J2",
    bench=True,
    oracle=f"""
        WITH shl AS (
            SELECT doc_id, {_SH_SQL} AS sh
            FROM documents WHERE len({_TOKS}) >= 3
        ),
        sh AS (
            SELECT doc_id, CAST(len(sh) AS BIGINT) AS n, unnest(sh) AS s FROM shl
        ),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        )
        SELECT doc_a, doc_b,
               CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
        FROM common
        WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs (threshold 0.8).

    Plan shape for scale:
    - the exploded shingle table is produced ENTIRELY in whole-stage
      codegen: posexplode the token array, then lead(tok,1)/lead(tok,2)
      windows over (doc_id, pos) concat consecutive triples. This replaced
      an Arrow-batched pandas-UDF array builder — 3-4× faster here and no
      Python workers at all (the JVM higher-order-function build is
      interpreted, slower still); the shingle count n rides along as a
      frameless windowed COUNT minus 2, so no sizes-aggregate join either;
    - the pair join is operators/dedup.py::jaccard_pairs: an
      exact-preserving length prefilter (J ≤ min/max, so
      4·max(n_a,n_b) ≤ 5·min(n_a,n_b) is implied by J ≥ 0.8) prunes
      pairs before the groupBy shuffle;
    - shingles are carried as xxhash64 longs, not strings: the join/groupBy
      shuffles move 8-byte keys (~20% faster end-to-end; collision bound
      ~D²/2⁶⁵ — see exploded_distinct_shingles — and the string-keyed
      DuckDB oracle cross-checks the final pairs);
    - the read-parallelizing repartition hashes on doc_id (not round-robin)
      so the shingle window and every downstream groupBy(doc_id) reuse the
      SAME distribution: one compact doc-row shuffle replaces a round-robin
      doc shuffle PLUS an exploded-token-row shuffle (plan-verified 2→1
      exchanges);
    - the documents repartition and the self-join sides run at the
      session's spark.sql.shuffle.partitions, the engine's one sizing
      rule (session.cluster_conf); an explicit width, so AQE cannot
      coalesce the self-join below it;
    - at 100 TB additionally drop ultra-frequent shingles pre-join
      (stop-shingles) and/or gate with the MinHash-LSH candidates — this
      exact form is the verifier stage.
    """
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = load_table(spark, sf_dir, "documents").repartition(
        width, F.col("doc_id")
    )
    # NOT persisted: the shingle table feeds both join sides, but the
    # InMemoryRelation build+read machinery costs more than recomputing
    # it at EVERY measured scale. Alternating arms in one session: wall
    # 1.79 → 1.33 s / CPU 17.6 → 12.5 at sf0.1, wall 2.32 → 1.87 / CPU
    # 34.8 → 23.4 at sf1 (bench_logs/r12/probe_persist_ab_sf01_v2.out,
    # probe_persist_ab_sf1.out); alternating fresh-JVM legs at sf10:
    # min-wall 16.62 persisted vs 12.07 recomputed, −27%
    # (bench_logs/r12/persist_sf10_ARM*_leg*.out, label correction in
    # persist_legs.log). Unlike lm's trigram table the recompute here is
    # bounded: the distinct-shingle aggregate's exchange subtree
    # is byte-identical on both sides, and at 100 TB an in-executor-
    # memory copy of a corpus-scale table was never viable anyway — the
    # lake, not the block manager, is where a reused shingle table would
    # be materialized.
    sh = D.exploded_distinct_shingles(
        d, X.tokens(F.col("text")), 3, hash_shingles=True
    )
    return D.jaccard_pairs(sh, width)


_K, _BANDS, _ROWS = 12, 4, 3
_SIG_SQL = D.minhash_signature_sql("sh", _K)
_BKEYS_SQL = D.lsh_band_keys_sql("sig", _BANDS, _ROWS)


@query(
    "dedup_minhash_lsh",
    covers="LLM-dedup-minhash-lsh",
    bench=True,
    oracle=f"""
        WITH shg AS (
            SELECT doc_id, {_SH_SQL} AS sh
            FROM documents WHERE len({_TOKS}) >= 3
        ),
        sigs AS (SELECT doc_id, {_SIG_SQL} AS sig FROM shg),
        bands AS (
            SELECT doc_id, unnest(generate_series(1, {_BANDS})) AS band_idx,
                   unnest({_BKEYS_SQL}) AS band_key
            FROM sigs
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=12) + LSH banding (4 bands × 3 rows) candidate pairs: the
    n²-free near-dup path — docs meet only inside a band bucket, so join
    cost tracks true duplicate density. Band probability: jaccard^3 per
    band, 1-(1-j^3)^4 overall — j=0.9 → 98% recall; the exact-jaccard
    query above is the verify stage downstream."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = load_table(spark, sf_dir, "documents").repartition(
        width, F.col("doc_id")
    )
    return minhash_band_pairs(d)


def minhash_band_pairs(d: DataFrame) -> DataFrame:
    """Banded MinHash candidate pairs over any (doc_id, text) frame (the
    registered query's body; bench.py::_dedup_scale_probe reuses it in
    its ``sf0.1_boiler3k`` block to measure candidate precision on a
    boilerplate-heavy corpus, and in its ``sf1_50k`` block for time and
    recall). The band self-join's exchanges are left to the planner."""
    # ONE band-table construction serves batch pair generation here AND
    # the incremental ledger (operators/dedup.py::neardup_against_ledger) —
    # a parameter drift between the two can no longer desync batch vs
    # incremental recall. short_doc_fallback off: pair semantics exclude
    # docs below the shingle width, matching the oracle's len filter.
    bands = D.lsh_band_table(
        d, n=3, k=_K, bands=_BANDS, rows=_ROWS, short_doc_fallback=False
    )
    # The band table feeds both self-join sides, so it is always
    # persisted: it is 4 narrow rows per doc, and the recompute it saves is
    # the whole shingle-explode + signature aggregate. A persist/recompute
    # A/B measured persist faster and tighter (bench_logs/r13/minhash_ab_*).
    return D.band_pairs(
        bands.persist(), ["band_idx", "band_key"], "doc_id",
        ("doc_a", "doc_b"),
    )


@query(
    "multimodal_feature_extract",
    covers="LLM-multimodal,mapInPandas",
    oracle="""
        SELECT doc_id, CAST(strlen(text) AS INT) AS n_bytes,
               md5(text) AS content_hash
        FROM documents
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through the Arrow mapInPandas
    path: the payload is a real binary column; the extractor runs per
    Arrow batch exactly as an image/audio featurizer would; the oracle
    checks the deterministic features (byte length + md5), proving the
    plumbing."""
    d = load_table(spark, sf_dir, "documents")
    return M.extract_features(M.attach_binary_payload(d)).select(
        "doc_id", "n_bytes", "content_hash"
    )


# Both decoders read each document's first 36 chars as raw bytes. DuckDB
# substr/strlen/ord and Spark substring/length are CHARACTER-based while
# the decoders consume UTF-8 BYTES — any non-ASCII char in the window
# would desync chars from bytes (ord() > 255, payload > 36 bytes). Both
# sides filter on the identical full-text ASCII predicate, so the
# chars-are-bytes invariant is checked, not assumed.
_ASCII_RASTER_SQL = "strlen(text) >= 36 AND regexp_matches(text, '^[\\x00-\\x7f]*$')"


def _ascii_raster_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").filter(
        (F.length("text") >= 36) & F.col("text").rlike("^[\\x00-\\x7f]*$")
    )


@query(
    "image_decode",
    covers="LLM-multimodal-decode",
    oracle=f"""
        SELECT doc_id, md5(substr(text, 1, 36)) AS pixel_md5,
               CAST(4 AS INT) AS width, CAST(3 AS INT) AS height,
               {", ".join(
                   "CAST(list_sum(list_transform(range(0, 12), k -> "
                   f"ord(substr(text, 1 + k*3 + {c}, 1)))) AS DOUBLE) / 12 AS mean_{ch}"
                   for c, ch in enumerate("rgb")
               )}
        FROM documents
        WHERE {_ASCII_RASTER_SQL}
    """,
)
def image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL image decoder, checked end to end: each document's first
    36 bytes become the raster of a 4×3 P6 PPM payload (header + raw RGB
    rows), decoded by operators.multimodal.decode_image_raw (the
    dependency-free PPM/BMP decoder). The oracle replays the decode
    arithmetic from the source text: per-channel means are integer byte
    sums over every 3rd char's code point divided once (bit-exact both
    engines), and pixel_md5 of the canonical RGB tensor equals
    md5(substr(text,1,36)) because the tensor bytes ARE those text
    bytes. A wrong stride, channel order, or row order in the decoder
    would break the hash."""
    img = _ascii_raster_docs(spark, sf_dir).select(
        "doc_id",
        F.encode(
            F.concat(F.lit("P6\n4 3\n255\n"), F.substring("text", 1, 36)),
            "utf-8",
        ).alias("payload"),
    )
    return M.decode_image_raw(img).select(
        "doc_id",
        "pixel_md5",
        "width",
        "height",
        *(F.element_at("mean_rgb", i + 1).alias(f"mean_{ch}") for i, ch in enumerate("rgb")),
    )


@query(
    "audio_decode",
    covers="LLM-multimodal-decode",
    oracle=f"""
        SELECT doc_id, md5(substr(text, 1, 36)) AS sample_md5,
               CAST(9 AS INT) AS n_frames, CAST(2 AS INT) AS n_channels,
               {", ".join(
                   "CAST(list_sum(list_transform(range(0, 9), k -> "
                   f"ord(substr(text, 1 + k*4 + {c * 2}, 1)) + "
                   f"256 * ord(substr(text, 1 + k*4 + {c * 2} + 1, 1))"
                   f")) AS DOUBLE) / 9 AS mean_ch{c}"
                   for c in range(2)
               )}
        FROM documents
        WHERE {_ASCII_RASTER_SQL}
    """,
)
def audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL audio decoder, checked end to end: each document's first
    36 bytes become the data chunk of a stereo PCM-16 RIFF WAVE payload
    (9 frames × 2 channels × 2 bytes), decoded by decode_audio_raw. The
    oracle replays the int16 little-endian DE-INTERLEAVE from the source
    chars (sample[k,c] = ord(byte[4k+2c]) + 256·ord(byte[4k+2c+1]); ASCII
    ⇒ high byte < 128 ⇒ non-negative, so the chars-are-bytes trick stays
    exact — signed samples are covered by unit test), and the canonical
    tensor md5 equals md5(substr(text,1,36)) because reshaping a
    contiguous LE buffer preserves its bytes."""
    import struct as _struct

    wav_header = (
        b"RIFF" + _struct.pack("<I", 36 + 36) + b"WAVE"
        + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
        + b"data" + _struct.pack("<I", 36)
    )
    aud = _ascii_raster_docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit(wav_header), F.encode(F.substring("text", 1, 36), "utf-8")
        ).alias("payload"),
    )
    return M.decode_audio_raw(aud).select(
        "doc_id",
        "sample_md5",
        "n_frames",
        "n_channels",
        *(F.element_at("mean_amp", c + 1).alias(f"mean_ch{c}") for c in range(2)),
    )


_CURATION_BOILER = "subscribe footer newsletter cookie banner legal notice"


@query(
    "curation_pipeline",
    covers="LLM-curation,LLM-line-dedup,composition",
    bench=True,
    oracle=f"""
        WITH dirty AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0
                        THEN text || chr(10) || '{_CURATION_BOILER}'
                        ELSE text END AS text
            FROM documents
        ),
        stripped AS ({L.strip_frequent_lines_sql(50, table='dirty')}),
        scored AS (
            SELECT st.doc_id, d.lang,
                   {X.lang_id_sql('st.text')} AS lang_hat,
                   {X.quality_score_sql('st.text')} AS quality,
                   st.n_removed
            FROM stripped st JOIN documents d USING (doc_id)
        ),
        shl AS (
            SELECT doc_id, {_SH_SQL} AS sh
            FROM documents WHERE len({_TOKS}) >= 3
        ),
        sh AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n, unnest(sh) AS s FROM shl),
        dup_pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b,
                   CAST(count(*) AS BIGINT) AS c
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        ),
        drop_docs AS (
            SELECT DISTINCT doc_b AS doc_id FROM dup_pairs
            WHERE CAST(c AS DOUBLE) / (n_a + n_b - c) >= 0.8
        )
        SELECT s.doc_id, s.lang_hat, s.quality, s.n_removed
        FROM scored s
        WHERE s.lang_hat = 'en'
          AND s.quality >= 0.75
          AND NOT EXISTS (SELECT 1 FROM drop_docs d WHERE d.doc_id = s.doc_id)
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: boilerplate-strip ∧ language ∧ quality ∧
    near-dup removal.

    The composed training-data pipeline stage, now with the line-grain
    stage first: a boilerplate line is injected into every even doc (the
    deterministic stand-in for real web templates — the lake's documents
    are single-line) and operators.lines strips it back out before
    scoring. The strip is hash-verified two ways: n_removed must be
    exactly (doc_id % 2 == 0), and any strip error would alter the text
    and flip downstream lang/quality/jaccard values. Then: keep English
    docs above the quality bar, dropping the higher-id member of every
    jaccard≥0.8 near-dup pair (keep-first policy). The near-dup stage
    runs on the canonical (stripped ≡ original) text, so its pairs are
    unchanged.
    """
    d0 = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    dirty = d0.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat_ws("\n", "text", F.lit(_CURATION_BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    stripped = L.strip_frequent_lines(dirty, 50)
    # n_removed rides through the scoring projection instead of a join
    # of ``stripped`` back onto the documents: strip emits every doc
    # exactly once, so that join would be row-preserving and only cost
    # 2 exchanges and 4 duplicate documents-scan branches (plans/r12/
    # curation_pipeline_{before,after}.txt; oracle hash unchanged).
    scored = _lang_quality_scored(stripped, passthrough=("n_removed",))
    drop_docs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return (
        scored.filter((F.col("lang_hat") == "en") & (F.col("quality") >= 0.75))
        .join(drop_docs, "doc_id", "left_anti")
        .select("doc_id", "lang_hat", "quality", "n_removed")
    )


_PAIRS_SQL = f"""
        shl AS (
            SELECT doc_id, {_SH_SQL} AS sh
            FROM documents WHERE len({_TOKS}) >= 3
        ),
        shx AS (
            SELECT doc_id, CAST(len(sh) AS BIGINT) AS n, unnest(sh) AS s FROM shl
        ),
        commonx AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        ),
        pairs AS (
            SELECT doc_a, doc_b FROM commonx
            WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.8
        )
"""


@query(
    "dedup_duplicate_clusters",
    covers="LLM-dedup-clusters,iterative-cc",
    oracle=f"""
        WITH RECURSIVE
        {_PAIRS_SQL},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM pairs
        ),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        labels AS (
            SELECT a AS doc_id, least(a, min(b)) AS cluster_id
            FROM reach GROUP BY a
        )
        SELECT l.doc_id, l.cluster_id,
               CAST(sz.n AS BIGINT) AS cluster_size,
               l.doc_id = l.cluster_id AS is_keeper
        FROM labels l
        JOIN (SELECT cluster_id, count(*) AS n FROM labels GROUP BY 1) sz
          USING (cluster_id)
    """,
)
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → duplicate CLUSTERS: transitive closure with a
    canonical keeper per cluster (min doc_id).

    The step every real curation pipeline needs after pair generation —
    pairwise "drop doc_b" under-drops transitive groups (a~b, b~c keeps
    both a and c even when the cluster is one document three ways). Runs
    the iterative min-label-propagation connected-components operator
    (operators/cluster.py — distributed join+agg per round, lineage
    truncated per round, O(diameter) rounds) over the exact-jaccard pairs.
    The DuckDB oracle computes the same closure as a recursive CTE, so the
    iterative operator is hash-checked end to end, not rows-only.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    return C.duplicate_clusters(pairs, "doc_a", "doc_b")


_STRATA_RATES = {"en": "1400", "de": "4000", "fr": "4000"}  # hex16 of 65536
_DEFAULT_RATE = "8000"
# Target pretraining mix: 4 named sources at fixed weights, rest excluded.
_MIX_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
_MIX_BUDGET = 2_000  # tokens


@query(
    "stratified_sample",
    covers="LLM-sampling,LLM-mixing,P3,U1",
    oracle=f"""
        SELECT 'lang_strata' AS mode, doc_id, lang AS stratum, sample_key
        FROM (
            SELECT doc_id, lang,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS sample_key
            FROM documents
        )
        WHERE sample_key < CASE lang
            {' '.join(f"WHEN '{k}' THEN '{v}'" for k, v in _STRATA_RATES.items())}
            ELSE '{_DEFAULT_RATE}' END
        UNION ALL
        SELECT 'source_budget' AS mode, doc_id, source AS stratum, sample_key
        FROM ({MX.mixture_sample_sql(_MIX_WEIGHTS, _MIX_BUDGET)})
        UNION ALL
        SELECT 'quality_weighted' AS mode, doc_id, lang AS stratum, sample_key
        FROM (
            SELECT doc_id, lang,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key,
                   least(1.0, greatest(0.0, {X.quality_score_sql('text')})) AS rate
            FROM documents
        )
        WHERE rate >= 1.0
           OR sample_key < {MX.rate_to_threshold_sql('rate')}
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling family: strata + budgeted mixture + soft
    quality weighting.

    Three modes of the training-mix downsampler, unioned with a mode tag:

    - ``lang_strata``: each language stratum keeps a fixed fraction (en
      ~7.8%, de/fr ~25%, others 50%) — the "rebalance the language mix"
      primitive. Stateless map, no shuffle, fully pushed into the scan.
    - ``source_budget``: per-source keep rates are DERIVED from a token
      budget and target mixture weights (rate_s = min(1, B·w_s/T_s), T_s
      the source's actual token total) — the "hit a token budget at a
      target domain mix" primitive (operators/mixing.py). One
      O(#sources)-row aggregate broadcast back over the corpus.
    - ``quality_weighted``: soft filtering — each doc's keep PROBABILITY
      is its own quality score (hard thresholds discard borderline docs
      entirely; weighting keeps them at reduced mass). Per-row rate, same
      hex-threshold mechanism, still a stateless map.

    Every keep decision is a pure function of the row key (md5-prefix vs
    a hex threshold). No rand(), no seed plumbing: the sample is
    reproducible across engines, runs, retries, and partitionings — Spark
    and DuckDB agree bit-for-bit, which `TABLESAMPLE`/`rand()` can never
    do.
    """
    d = load_table(spark, sf_dir, "documents")
    key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    rate = F.lit(_DEFAULT_RATE)
    expr = None
    for lang, r in _STRATA_RATES.items():
        expr = (
            F.when(F.col("lang") == lang, F.lit(r))
            if expr is None
            else expr.when(F.col("lang") == lang, F.lit(r))
        )
    rate = expr.otherwise(rate)
    strata = (
        d.select(
            F.lit("lang_strata").alias("mode"),
            "doc_id",
            F.col("lang").alias("stratum"),
            key.alias("sample_key"),
        )
        .filter(F.col("sample_key") < rate)
    )
    mixed = MX.mixture_sample(d, _MIX_WEIGHTS, _MIX_BUDGET).select(
        F.lit("source_budget").alias("mode"),
        "doc_id",
        F.col("source").alias("stratum"),
        "sample_key",
    )
    soft = (
        _lang_quality_scored(d, passthrough=("lang",))
        .select(
            F.lit("quality_weighted").alias("mode"),
            "doc_id",
            F.col("lang").alias("stratum"),
            MX.sample_key("doc_id").alias("sample_key"),
            F.expr("least(1.0D, greatest(0.0D, quality))").alias("_rate"),
        )
        .filter(
            (F.col("_rate") >= 1.0)
            | (F.col("sample_key") < MX.rate_to_threshold(F.col("_rate")))
        )
        .drop("_rate")
    )
    return strata.unionAll(mixed).unionAll(soft)


_BPE_N = 8  # merges the oracle replays; >1-count pairs exist at every SF


def _bpe_oracle_ctes(n: int) -> str:
    """DuckDB CTE chain replaying BPE training merge-for-merge.

    bpe_w0 is the word-frequency table with each word exploded to a
    space-separated character sequence; each step k then (a) derives
    merge k by the engine's exact argmax — pair count weighted by word
    freq, tiebreak (count DESC, a ASC, b ASC), stop when the best count
    is <= 1 (HAVING > 1; an empty step LEFT-JOINs through unchanged, and
    once one step is empty all later ones are too, matching the
    trainer's permanent stop) — and (b) applies it with a list_reduce
    fold whose accumulator is the rebuilt space-joined sequence:
    merging appends the right symbol directly onto the trailing left
    symbol (acc ends with the left symbol token ⇒ acc || x IS the
    merged token), which reproduces left-to-right NON-OVERLAPPING
    replacement exactly (the merged token can never re-match as `left`
    because left||right != left for nonempty right). MATERIALIZED is
    load-bearing: inlined, the doubly-referenced chain re-evaluates
    w0 2^n times (measured 7.9 s -> 0.07 s at sf0.01, n=8).
    """
    parts = [
        f"""
        bpe_w0 AS MATERIALIZED (
            SELECT word, CAST(count(*) AS BIGINT) AS freq,
                   array_to_string(string_split(word, ''), ' ') AS seq
            FROM (SELECT unnest({_TOKS}) AS word FROM documents)
            WHERE len(word) > 0 GROUP BY word
        )"""
    ]
    for k in range(1, n + 1):
        prev = f"bpe_w{k - 1}"
        parts.append(
            f"""
        bpe_p{k} AS MATERIALIZED (
            SELECT pr[1] AS a, pr[2] AS b FROM (
                SELECT unnest(list_zip(toks, toks[2:])) AS pr, freq
                FROM (SELECT freq, string_split(seq, ' ') AS toks
                      FROM {prev})
            ) WHERE pr[2] IS NOT NULL
            GROUP BY 1, 2 HAVING sum(freq) > 1
            ORDER BY sum(freq) DESC, a, b LIMIT 1
        ),
        bpe_w{k} AS MATERIALIZED (
            SELECT word, freq,
                   list_reduce(string_split(seq, ' '),
                       (acc, x) -> CASE
                           WHEN (acc = p.a OR ends_with(acc, ' ' || p.a))
                                AND x = p.b
                           THEN acc || x
                           ELSE acc || ' ' || x END) AS seq
            FROM {prev} LEFT JOIN bpe_p{k} p ON TRUE
        )"""
        )
    return ",".join(parts)


_BPE_MERGE_UNION = "\nUNION ALL\n".join(
    f"SELECT {k} AS rnk, a || '|' || b AS term FROM bpe_p{k}"
    for k in range(1, _BPE_N + 1)
)

# Memo for the driver-trained merge list, keyed on the SOURCE file's
# identity (same invalidation rule as the robust-census corpus): the
# trainer's word-count job + driver loop then runs once per corpus, not
# once per plan construction (tests/fingerprint tool/parity all
# construct this query).
_BPE_MEMO: dict[tuple[str, int, int], list[tuple[str, str]]] = {}


def _corpus_doc_count(spark: SparkSession, sf_dir: str) -> int:
    """Documents row count from the Parquet footer (catalog.footer): no
    Spark job, and it only ever feeds plan-shape gates (join strategy,
    persist crossover), never results."""
    return footer(os.path.join(sf_dir, "documents.parquet"), spark).num_rows


@query(
    "tfidf_top_terms",
    covers="LLM-text,tfidf,W2,A1",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS term FROM documents
        ),
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM toks GROUP BY 1, 2
        ),
        df AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   CAST(tf.tf * (n.n_docs + 1) AS DOUBLE) / (df.df + 1) AS score
            FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, df, score, CAST(rnk AS INT) AS rnk
        FROM (
            SELECT scored.*, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term
            ) AS rnk
            FROM scored
        )
        WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 distinguishing terms by smoothed TF-IDF —
    document fingerprinting for corpus analysis: tf per (doc, term), df
    per term, score = tf·(N+1)/(df+1) — a rational TF-IDF variant chosen
    because IEEE multiply/divide are correctly rounded in every engine
    (ln() is not guaranteed bit-identical across libm implementations, so
    a log-idf would flake the hash gate in the last ulp). Ranking ties
    break on the term string, so the top-3 SET is fully deterministic.

    Plan: tf groupBy (one shuffle on doc+term), df groupBy (one on term),
    scalar N broadcast via cross join, score join back on term, top-k per
    doc as a rank window (one shuffle on doc). Every stage is JVM codegen;
    df for ultra-common terms is the only skew point — at 100 TB cap it
    with a stop-term filter before the join, same shape as stop-shingles.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                (F.col("tf") * (F.col("n_docs") + F.lit(1))).cast("double")
                / (F.col("df") + F.lit(1))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 3
    )


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    """The first ``_BPE_N`` merges of ``bpe.train_bpe_driver`` — the 100 TB
    path (ONE corpus-sized word-frequency job, merge loop driver-local
    over the compact vocab; reference-free, see operators/bpe.py) —
    memoized per source identity (_BPE_MEMO)."""
    from nhl_data_pipeline_spark.operators import bpe as B

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    key = (src, st.st_size, st.st_mtime_ns)
    if key not in _BPE_MEMO:
        _BPE_MEMO[key] = B.train_bpe_driver(
            load_table(spark, sf_dir, "documents"), _BPE_N
        )
    return _BPE_MEMO[key]


@query(
    "bpe_merges",
    covers="LLM-bpe",
    oracle=f"""
        WITH {_bpe_oracle_ctes(_BPE_N)}
        SELECT rnk, term FROM ({_BPE_MERGE_UNION})
    """,
)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training: the learned merge rules as (rank, 'a|b'),
    hash-checked against a full SQL replay of the training algorithm
    (_bpe_oracle_ctes)."""
    return spark.createDataFrame(
        [(i + 1, f"{a}|{b}") for i, (a, b) in enumerate(_bpe_merges(spark, sf_dir))],
        "rnk int, term string",
    )


@query(
    "bpe_segmentation",
    covers="LLM-bpe",
    oracle=f"""
        WITH {_bpe_oracle_ctes(_BPE_N)}
        SELECT 'bpe_seg' AS op, word AS term, freq AS tf,
               CAST(NULL AS BIGINT) AS df, seq
        FROM bpe_w{_BPE_N}
        UNION ALL
        SELECT 'bpe_vocab', tok, CAST(sum(freq) AS BIGINT),
               CAST(count(*) AS BIGINT), CAST(NULL AS VARCHAR)
        FROM (SELECT freq, unnest(string_split(seq, ' ')) AS tok
              FROM bpe_w{_BPE_N})
        GROUP BY tok
    """,
)
def bpe_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode + vocabulary under the trained merges, hash-checked
    against the SQL replay of training (_bpe_oracle_ctes). Both branches
    read one segmentation, so they stay one query, tagged in `op`:
    - 'bpe_seg': ``bpe.encode`` of every distinct corpus word (codegen
      aggregate-fold per merge, no Python, no shuffle) — encode(train
      corpus) must BE the training segmentation, so this hash also pins
      the trainer/encoder round-trip.
    - 'bpe_vocab': ``bpe.vocabulary`` over the segmentation — per
      subword token, total corpus frequency (tf) and #words (df).
    """
    from nhl_data_pipeline_spark.operators import bpe as B

    d = load_table(spark, sf_dir, "documents")
    segt = B.encode(
        B.word_frequencies(d), _bpe_merges(spark, sf_dir), text_col="word"
    )
    seg = segt.select(
        F.lit("bpe_seg").alias("op"),
        F.col("word").alias("term"),
        F.col("freq").alias("tf"),
        F.lit(None).cast("bigint").alias("df"),
        F.array_join("bpe_tokens", " ").alias("seq"),
    )
    voc = B.vocabulary(
        segt.select("freq", F.col("bpe_tokens").alias("syms"))
    ).select(
        F.lit("bpe_vocab").alias("op"),
        F.col("token").alias("term"),
        F.col("total_freq").alias("tf"),
        F.col("n_words").alias("df"),
        F.lit(None).cast("string").alias("seq"),
    )
    return seg.unionByName(voc)


_SH4_SQL = D.shingles_sql(_TOKS, 4)
_SIG4_SQL = D.minhash_signature_sql("sh", 12)
_BK4_SQL = D.lsh_band_keys_sql("sig", 4, 3)


@query(
    "contamination_check",
    covers="LLM-decontamination,LLM-fuzzy-decontamination,J9,A1",
    oracle=f"""
        WITH shg AS (
            SELECT doc_id, {_SH4_SQL} AS sh
            FROM documents WHERE len({_TOKS}) >= 4
        ),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM shg),
        eval_sh AS (
            SELECT DISTINCT s FROM ex WHERE doc_id % 7 = 0
        ),
        train AS (SELECT doc_id, s FROM ex WHERE doc_id % 7 <> 0),
        sizes AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
            FROM train GROUP BY doc_id
        ),
        hits AS (
            SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
            FROM train t JOIN eval_sh e USING (s)
            GROUP BY t.doc_id
        ),
        exact_rows AS (
            SELECT doc_id, 'exact4' AS method, n_shingles, n_contaminated,
                   CAST(n_contaminated AS DOUBLE) / n_shingles AS contamination
            FROM sizes JOIN hits USING (doc_id)
        ),
        sigs AS (
            SELECT doc_id, CAST(len(sh) AS BIGINT) AS n, {_SIG4_SQL} AS sig
            FROM shg WHERE len(sh) >= 1
        ),
        bands AS (
            SELECT doc_id, n, sig,
                   unnest(generate_series(1, 4)) AS band_idx,
                   unnest({_BK4_SQL}) AS band_key
            FROM sigs
        ),
        cand AS (
            SELECT t.doc_id, t.n,
                   len(list_filter(range(1, 13), i -> t.sig[i] = e.sig[i]))
                       AS agree
            FROM bands t
            JOIN bands e ON t.band_idx = e.band_idx
                        AND t.band_key = e.band_key
            WHERE t.doc_id % 7 <> 0 AND e.doc_id % 7 = 0
        ),
        fuzzy_rows AS (
            SELECT doc_id, 'minhash12' AS method,
                   n AS n_shingles,
                   CAST(max(agree) AS BIGINT) AS n_contaminated,
                   CAST(max(agree) AS DOUBLE) / 12 AS contamination
            FROM cand GROUP BY doc_id, n
            HAVING max(agree) >= 6
        )
        SELECT * FROM exact_rows UNION ALL SELECT * FROM fuzzy_rows
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination, exact AND fuzzy, in one union.

    ``method='exact4'``: for every training document sharing at least one
    4-gram with the held-out eval slice (doc_id % 7 = 0), the fraction of
    its distinct 4-grams that appear anywhere in the eval set — the
    benchmark-leakage scan every serious pretraining pipeline runs (the
    reference has no analog — its dedup is exact-key only). N-gram
    granularity is the usual contamination unit: long enough that overlap
    means shared passages, short enough to catch partial quotes.

    ``method='minhash12'``: fuzzy decontamination — catches paraphrased or
    partially edited benchmark text that exact n-gram overlap misses.
    Train docs become LSH candidates (the same MinHash k=12, 4×3 banding
    as dedup_minhash_lsh, over the SAME 4-gram shingles) against any eval
    doc; ``contamination`` is the best signature-agreement Jaccard
    estimate (agreeing positions / 12) and a doc is flagged at est-J ≥
    0.5 (≥ 6 agreeing positions). ``n_contaminated`` holds the agreeing-
    position count, ``n_shingles`` the doc's distinct-shingle count.

    Plan shape for scale (both branches stay O(corpus) with the eval side
    broadcast — benchmarks are MBs, corpora are TBs):
    - exact: the corpus is shingled ONCE (the codegen lead-window path of
      dedup_ngram_jaccard, persisted, hashed to 8-byte longs); the
      distinct eval shingle set broadcasts and the scan is a map-side
      left-semi join — no shuffle of the 100 TB side at all, then one
      partial-agg groupBy per doc. The xxhash64 bridge trades a ~D²/2⁶⁵
      collision bound for string-free exchanges; the string-keyed DuckDB
      oracle cross-checks every count.
    - fuzzy: signatures via 12 plain min-aggregates over string shingles
      (the seeded-md5 MinHash family is defined over the string form —
      see exploded_distinct_shingles; partial agg states are 12 md5s per
      doc, so map-side combine keeps that exchange tiny); eval band keys
      + signatures broadcast, so candidate generation is a map-side hash
      join carrying the train signature through — the only corpus shuffle
      is the final per-doc max groupBy. Duplicate (train, eval) band
      collisions need no distinct: max() of the agreement absorbs them.
    """
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    # NOT persisted: wall 2.33 → 1.86 s / CPU 21.5 → 15.6 at sf0.1
    # without the cache (bench_logs/r12/probe_persist_ab_sf01_extra.out)
    # — the InMemoryRelation build costs more than recomputing the shared
    # shingle subtree, whose exchange runtime ReusedExchange dedupes.
    sh = D.exploded_distinct_shingles(
        d, X.tokens(F.col("text")), 4, hash_shingles=True
    )
    eval_sh = sh.filter(F.col("doc_id") % 7 == 0).select("s").distinct()
    train_sh = sh.filter(F.col("doc_id") % 7 != 0)
    exact_rows = (
        train_sh.join(F.broadcast(eval_sh), "s", "left_semi")
        .groupBy("doc_id", "n")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
        .select(
            "doc_id",
            F.lit("exact4").alias("method"),
            F.col("n").alias("n_shingles"),
            "n_contaminated",
            (F.col("n_contaminated").cast("double") / F.col("n")).alias(
                "contamination"
            ),
        )
    )

    str_sh = D.exploded_distinct_shingles(d, X.tokens(F.col("text")), 4)
    # The shared MinHash band kernel; the oracle renders its DuckDB twins
    # (minhash_signature_sql / lsh_band_keys_sql), so the banding rule
    # cannot drift between the engines or across the dedup family.
    bands = D.minhash_bands(str_sh, ["doc_id", "n"], 12, 4, 3)
    ev = bands.filter(F.col("doc_id") % 7 == 0).select(
        "band_idx", "band_key", F.col("sig").alias("esig")
    )
    tr = bands.filter(F.col("doc_id") % 7 != 0)
    agree = F.size(
        F.filter(F.zip_with("sig", "esig", lambda x, y: x == y), lambda v: v)
    )
    fuzzy_rows = (
        tr.join(F.broadcast(ev), ["band_idx", "band_key"])
        .select("doc_id", "n", agree.alias("agree"))
        .groupBy("doc_id", "n")
        .agg(F.max("agree").alias("agree"))
        .filter(F.col("agree") >= 6)
        .select(
            "doc_id",
            F.lit("minhash12").alias("method"),
            F.col("n").alias("n_shingles"),
            F.col("agree").cast("bigint").alias("n_contaminated"),
            (F.col("agree").cast("double") / 12).alias("contamination"),
        )
    )
    return exact_rows.unionByName(fuzzy_rows)


_SEQ_LEN = 2048  # tokens per packed training sequence
_CHUNK = 256  # docs per prefix-sum chunk


@query(
    "sequence_packing",
    covers="LLM-packing,W4,prefix-sum",
    oracle=f"""
        SELECT doc_id, n_tokens, global_offset,
               global_offset // {_SEQ_LEN} AS seq_id,
               global_offset % {_SEQ_LEN} AS offset_in_seq,
               (global_offset % {_SEQ_LEN}) + n_tokens > {_SEQ_LEN}
                   AS crosses_boundary
        FROM (
            SELECT doc_id,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                   CAST(COALESCE(SUM(CAST(len({_TOKS}) AS BIGINT)) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS global_offset
            FROM documents
        )
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing: every document's position in the
    token stream formed by concatenating the corpus in doc_id order and
    splitting it into fixed {_SEQ_LEN}-token training sequences — seq_id,
    offset within the sequence, and whether the doc straddles a boundary.

    The batch-assembly step of a pretraining pipeline (no reference
    analog). The semantics are a GLOBAL running total (W4's frame over the
    whole corpus, not per group) — the one window Spark cannot distribute
    as written, because a single total order = a single partition. The
    implementation is the textbook two-level scan instead:

    1. bucket docs into chunks of {_CHUNK} by doc_id;
    2. one tiny aggregate of per-chunk token totals (corpus/{_CHUNK} rows)
       gets its exclusive cumsum on a SINGLE-partition window — safe
       because that table is ~1e5 rows even at 100 TB;
    3. the chunk offsets broadcast-join back and a per-chunk window
       (bounded partitions, distributed) finishes the local cumsum.

    Two narrow shuffles (chunk agg + per-chunk window) over (id, count)
    pairs, never the text. The DuckDB oracle runs the naive global window
    — the distributed scan must reproduce it bit-for-bit.
    """
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    base = d.select(
        "doc_id",
        F.size(X.tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        (F.col("doc_id") - F.col("doc_id") % _CHUNK).alias("chunk"),
    )
    totals = base.groupBy("chunk").agg(F.sum("n_tokens").alias("chunk_total"))
    w_chunks = (
        Window.orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "chunk",
        F.coalesce(F.sum("chunk_total").over(w_chunks), F.lit(0)).alias(
            "chunk_offset"
        ),
    )
    w_local = (
        Window.partitionBy("chunk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = base.join(F.broadcast(offsets), "chunk").select(
        "doc_id",
        "n_tokens",
        (
            F.col("chunk_offset")
            + F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
        ).alias("global_offset"),
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        "global_offset",
        F.expr(f"global_offset div {_SEQ_LEN}").alias("seq_id"),
        (F.col("global_offset") % _SEQ_LEN).alias("offset_in_seq"),
        (
            F.col("global_offset") % _SEQ_LEN + F.col("n_tokens") > _SEQ_LEN
        ).alias("crosses_boundary"),
    )


_WINNOW_K, _WINNOW_W = 5, 4
# DuckDB twin of winnowing_fingerprints(k=5, window=4) with the md5 hash
# variant: k-gram md5s via lead() windows, min over a ROWS window of 4,
# complete-window tail filter, distinct. Positions are 1-based here vs
# 0-based in Spark's posexplode — the winnowing rule only uses their order.
_WINNOW_AGG_SQL = f"""
        toks AS (
            SELECT doc_id, unnest({_TOKS}) AS tok,
                   generate_subscripts({_TOKS}, 1) AS pos
            FROM documents
        ),
        grams_raw AS (
            SELECT doc_id, pos,
                   md5(concat_ws(' ', tok, lead(tok, 1) OVER w,
                       lead(tok, 2) OVER w, lead(tok, 3) OVER w,
                       lead(tok, 4) OVER w)) AS h,
                   lead(tok, {_WINNOW_K - 1}) OVER w AS t_last
            FROM toks
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        grams AS (SELECT doc_id, pos, h FROM grams_raw WHERE t_last IS NOT NULL),
        fps_w AS (
            SELECT doc_id, pos,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS fp,
                   max(pos) OVER (PARTITION BY doc_id) AS max_pos
            FROM grams
        ),
        fps AS (
            SELECT DISTINCT doc_id, fp FROM fps_w
            WHERE pos + {_WINNOW_W - 1} <= max_pos
        ),
        wagg AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps, min(fp) AS min_fp
            FROM fps GROUP BY 1
        )
"""


@query(
    "pii_winnow_scrub",
    covers="LLM-pii-redaction,LLM-winnowing-fingerprint",
    oracle=f"""
        WITH {_WINNOW_AGG_SQL}
        SELECT d.doc_id,
               {X.pii_hits_sql('d.text')} AS pii_hits,
               CAST(length({X.redact_pii_sql('d.text')}) AS INT) AS redacted_len,
               coalesce(w.n_fps, 0) AS n_fps,
               w.min_fp
        FROM documents d LEFT JOIN wagg w ON d.doc_id = w.doc_id
    """,
)
def pii_winnow_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit + winnowing document fingerprints in one per-doc
    report, joined on doc_id.

    - `pii_hits` / `redacted_len`: operators.text.redact_pii's
      regexp_replace chain counted and applied — whole-stage codegen,
      linear in input bytes, identical regex strings on both engines.
    - `n_fps` / `min_fp`: winnowing (Schleimer et al., SIGMOD'03) with an
      md5 k-gram hash whose lexicographic min DuckDB reproduces exactly
      (the engine default is xxhash64 longs — same algorithm, cheaper
      keys; operators/dedup.py:winnowing_fingerprints). Docs with fewer
      than k+window-1 tokens have no complete window → zero-filled count,
      NULL min_fp.

    Scale: both sides are one documents scan each, joined on doc_id; the
    winnowing side's only exchange is the doc_id window partitioning, and
    the fingerprint table it would feed into a cross-doc equi-join is
    ~2/(window+1) the size of full shingling.
    """
    d = load_table(spark, sf_dir, "documents")
    scrub = d.select(
        "doc_id",
        X.pii_hits(F.col("text")).alias("pii_hits"),
        F.length(X.redact_pii(F.col("text"))).alias("redacted_len"),
    )
    md5_hash = lambda cols: F.md5(F.concat_ws(" ", *cols).cast("binary"))  # noqa: E731
    fps = D.winnowing_fingerprints(
        d,
        X.tokens(F.col("text")),
        k=_WINNOW_K,
        window=_WINNOW_W,
        hash_fn=md5_hash,
    )
    wagg = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"), F.min("fp").alias("min_fp")
    )
    return scrub.join(wagg, "doc_id", "left").select(
        "doc_id",
        "pii_hits",
        "redacted_len",
        F.coalesce("n_fps", F.lit(0).cast("bigint")).alias("n_fps"),
        "min_fp",
    )


# ---------------------------------------------------------------- n-gram
# LM and count-min-sketch queries, each checked against its DuckDB twin.


@query(
    "ngram_lm_quality",
    covers="LLM-lm-quality",
    oracle=LM.ngram_lm_score_sql(),
    bench=True,
)
def ngram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style trigram-LM quality score per document (self-scored):
    train add-k-smoothed trigram/context counts over the corpus, score
    each doc by its mean in-context trigram probability.

    Cross-engine hash-exact by construction: probabilities are computed in
    fixed-point integer arithmetic (DECIMAL(38,0) numerator, BIGINT sums)
    with ONE final double division — see operators/lm.py. Scale shape: the
    model side is the distinct-ngram table (two map-side-combinable
    groupBys), orders of magnitude smaller than the corpus; scoring is two
    hash joins on the gram/context keys — broadcast below the measured
    model-size gate, shuffle_hash above it (operators/lm.py). The corpus
    row count feeding that gate comes from the Parquet footer, so the
    plan builder runs no Spark job.
    """
    d = load_table(spark, sf_dir, "documents")
    return LM.ngram_lm_score(
        d, model_rows=_corpus_doc_count(spark, sf_dir)
    )


_CMS_TOP = 20


@query(
    "cms_heavy_hitters",
    covers="LLM-sketch-cms",
    oracle=f"""
        WITH cells AS ({SK.cms_build_sql()}),
        tok AS (SELECT unnest({_TOKS}) AS t FROM documents),
        top AS (
            SELECT t AS token, CAST(count(*) AS BIGINT) AS cnt
            FROM tok WHERE length(t) > 0
            GROUP BY 1 ORDER BY cnt DESC, token ASC LIMIT {_CMS_TOP}
        ),
        probe AS (
            SELECT token, row_i,
                   substr(md5(CAST(row_i AS VARCHAR) || '|' || token), 1, 2)
                       AS bucket
            FROM top
            CROSS JOIN (SELECT unnest(generate_series(0, {SK.D_ROWS - 1}))
                        AS row_i)
        ),
        est AS (
            SELECT p.token, min(COALESCE(c.n, 0)) AS n
            FROM probe p
            LEFT JOIN cells c ON c.row_i = p.row_i AND c.bucket = p.bucket
            GROUP BY 1
        )
        SELECT 'cell' AS kind, row_i, bucket, CAST(NULL AS VARCHAR) AS token, n
        FROM cells
        UNION ALL
        SELECT 'est', CAST(NULL AS INT), CAST(NULL AS VARCHAR), token, n
        FROM est
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch build + heavy-hitter estimation, one tagged result
    (the estimates probe the sketch the 'cell' rows emit):
    'cell' rows are the full d×w counter table (≤ 1024 rows whatever the
    corpus size — built in ONE corpus scan, operators/sketch.py), 'est'
    rows are the min-over-rows estimates for the corpus's top-20 exact
    tokens (the estimate ≥ exact-count CMS guarantee is asserted per
    token in tests/test_sketch.py; here both engines build the identical
    sketch row-for-row because the hash rows are md5-prefix buckets).
    Scale: the sketch is a constant-size broadcastable summary; estimation
    is a map-side join however many tokens are probed.
    """
    d = load_table(spark, sf_dir, "documents")
    sketch = SK.cms_build(d)
    tok = d.select(F.explode(X.tokens(F.col("text"))).alias("t")).filter(
        F.length("t") > 0
    )
    top = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("t"))
        .limit(_CMS_TOP)
        .select(F.col("t").alias("token"))
    )
    est = SK.cms_estimate(sketch, top, token_col="token")
    cells = sketch.select(
        F.lit("cell").alias("kind"),
        "row_i",
        "bucket",
        F.lit(None).cast("string").alias("token"),
        "n",
    )
    ests = est.select(
        F.lit("est").alias("kind"),
        F.lit(None).cast("int").alias("row_i"),
        F.lit(None).cast("string").alias("bucket"),
        "token",
        F.col("est").alias("n"),
    )
    return cells.unionByName(ests)


@query(
    "duplicate_spans",
    covers="LLM-dedup-spans",
    oracle=SP.duplicate_spans_sql(8),
)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN detection (Lee et al. 2022 substring dedup,
    operators/spans.py): every maximal run of tokens covered by an 8-gram
    occurring ≥2 times corpus-wide, per document (twin-tested also in
    tests/test_spans.py).

    Scale shape (module docstring has the full story): positional-gram
    explode is map-only; duplicate detection groups on 8-byte xxhash64
    keys with map-side combine; island-merging windows only the
    duplicated-position set, never the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    return SP.duplicate_spans(d, 8)


@query(
    "classifier_train_score",
    covers="LLM-classifier-train,LLM-classifier-score",
    oracle=CL.train_score_sql(),
)
def classifier_train_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier TRAIN → SCORE end-to-end: one batch-GD iteration
    of distributed logistic regression over hashed bag-of-words features
    (operators/classifier.py::train_logreg — zero init, lr=0.5, label
    y = doc_id % 2, training subset doc_id < 256) feeding the broadcast-
    weights inference path (::classifier_score) over the FULL table.

    The oracle replays the training update in EXACT integer arithmetic —
    possible because at iteration 1 the fixed-point errors are ±5·10⁸
    exactly and the 256-doc subset makes every float step dyadic
    (train_score_sql docstring derives this); more iterations are
    pytest-verified against an independent Python implementation
    (tests/test_classifier.py) where bit-exactness is asserted per
    PARTITIONING, not per engine. `prob` is excluded from the output
    (libm exp last-ulp is engine-specific); logit is exact decimal
    through the varchar bridge.
    """
    d = load_table(spark, sf_dir, "documents")
    labeled = d.filter(F.col("doc_id") < 256).withColumn(
        "y", (F.col("doc_id") % 2).cast("int")
    )
    weights, bias = CL.train_logreg(
        labeled, label_col="y", n_iter=1, lr=0.5
    )
    scored = CL.classifier_score(d, weights, bias)
    return scored.select(
        "doc_id",
        F.col("logit").cast("string").cast("double").alias("logit"),
        "keep",
    )


@query(
    "report_card_quantiles",
    covers="LLM-report-card,LLM-exact-quantiles",
    oracle=f"""
        WITH rep AS ({RP.corpus_report_sql()}),
        qq AS ({RP.group_quantiles_sql()})
        SELECT rep.*, qq.p50, qq.p95, qq.p99
        FROM rep JOIN qq USING (source, lang)
    """,
)
def report_card_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus report card + exact per-group token-count quantiles
    (operators/report.py), one row per (source, lang); all-integer DuckDB
    twins (also tested in tests/test_scale_operators.py).

    One corpus scan feeds the conditional-aggregate datasheet (counts,
    token/char totals, exact histogram bins, fingerprint dup counts); the
    quantiles use distinct-value compression — one (group, value) count
    moves per DISTINCT token count, never a corpus sort. The final join
    is a rollup-sized hash join however large the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    rep = RP.corpus_report(d)
    qq = RP.group_quantiles(d)
    return rep.join(qq, ["source", "lang"])


# ---------------------------------------------------------------- chunking,
# batching and snapshot diffing, each checked against its DuckDB twin.

from nhl_data_pipeline_spark.operators.chunking import (  # noqa: E402
    chunk_documents,
    chunk_documents_sql,
    length_bucketed_batches,
    length_bucketed_batches_sql,
)
from nhl_data_pipeline_spark.operators.diffing import (  # noqa: E402
    snapshot_diff as _snapshot_diff_op,
    snapshot_diff_sql,
)

# Distinct names from sequence_packing's _CHUNK (docs per prefix-sum
# chunk, line ~956): that constant is read at CALL time by the packing
# query, so reusing the name here would silently retune it.
_CHUNK_TOKENS, _CHUNK_OVERLAP = 64, 16
_BATCH, _BIN = 32, 16


@query(
    "document_chunking",
    covers="LLM-chunking",
    oracle=f"""
        SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id, n_chunks, n_tokens,
               chunk_text
        FROM ({chunk_documents_sql(chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP)})
    """,
)
def document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token chunking with overlap: `operators/chunking.chunk_documents`
    — pure per-row whole-stage codegen (posexplode over a sequence of
    chunk starts, slice, array_join); no shuffle, fan-out linear in
    document length."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(
        docs, chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP
    ).select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        "n_chunks",
        "n_tokens",
        "chunk_text",
    )


@query(
    "length_bucketed_batching",
    covers="LLM-length-batching",
    oracle=f"""
        SELECT doc_id, n_tokens, bin, batch_id
        FROM ({length_bucketed_batches_sql(batch_size=_BATCH, bin_width=_BIN)})
    """,
)
def length_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed inference batching:
    `operators/chunking.length_bucketed_batches` — deterministic
    globally-unique batch ids from a (bin)-partitioned window ordered by
    (n_tokens, doc_id); one exchange."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return length_bucketed_batches(docs, batch_size=_BATCH, bin_width=_BIN).select(
        "doc_id", "n_tokens", "bin", "batch_id"
    )


_DIFF_OLD = "SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8"
_DIFF_NEW = """SELECT doc_id,
       CASE WHEN doc_id % 10 IN (2, 3) THEN text || ' EDITED' ELSE text END
           AS text
    FROM documents WHERE doc_id % 10 >= 2"""


@query(
    "snapshot_diff",
    covers="LLM-snapshot-diffing",
    oracle=snapshot_diff_sql(
        old_table=f"({_DIFF_OLD})",
        new_table=f"({_DIFF_NEW})",
        key_expr=X.fingerprint_sql("text"),
    ),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-aware churn between two corpus snapshots (also twin-tested
    in tests/test_diffing.py).

    The snapshots are derived deterministically from the documents table
    (old = doc_id%10<8, new = doc_id%10>=2 with %10∈{2,3} edited), so
    every status class — added / removed / changed / unchanged — is
    exercised at any scale factor. The full-outer join moves (id, 16-byte
    fingerprint) pairs only; see `operators/diffing` for the 100 TB
    posture.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.filter(F.col("doc_id") % 10 < 8)
    new = d.filter(F.col("doc_id") % 10 >= 2).withColumn(
        "text",
        F.when(
            (F.col("doc_id") % 10).isin(2, 3),
            F.concat(F.col("text"), F.lit(" EDITED")),
        ).otherwise(F.col("text")),
    )
    return _snapshot_diff_op(old, new, X.fingerprint(F.col("text")))
