"""Text-analysis operators for large-scale training-data pipelines.

Language-ID (stopword-hit heuristic), quality scoring, token counting, the
Gopher rule battery, repetition signals, PII redaction and document
fingerprinting — all as JVM-side expressions (split / higher-order array
functions), no Python UDFs, so they stay inside whole-stage codegen and
scale linearly with input bytes.

Each rule has ONE Spark form — a Column builder, or a Spark-SQL string
(suffix ``_spark_sql``) where the plans pass it to ``selectExpr`` — and
one hand-written DuckDB twin (suffix ``_sql``) used by the oracle
strings. The twin is never generated from the Spark form, so parity
checks two independent renderings of the same policy constants.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_PATTERN = r"\s+"

# Minimal per-language stopword lists for the n-gram/stopword heuristic.
# Real pipelines plug fastText/cld3 here via a Pandas UDF; the heuristic is
# the deterministic, dependency-free baseline.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "to", "and"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "les", "et", "en", "une"),
    "de": ("der", "die", "das", "und", "ist"),
    "zh": ("的", "是", "了", "在", "我"),
}
ALL_STOPWORDS: tuple[str, ...] = tuple(
    sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
)


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (the BPE-ish regex path would swap the
    pattern; the operator shape is identical)."""
    return F.split(col, TOKEN_PATTERN)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def _in_list_sql(items: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in items)


# --- Spark-SQL string forms ----------------------------------------------
#
# The token-array rules are Spark-SQL strings, not Column builders: a
# Column-API build of the same expression costs one py4j round trip per
# node (53 for one stopword-hit count, ~770 each for the lang-ID CASE
# chain and the gopher battery), while a string crosses the boundary in a
# single F.expr/selectExpr call. Float literals carry the D suffix: bare
# `0.4` parses as DECIMAL(1,1) in Spark SQL.


def _array_lit_spark_sql(words: tuple[str, ...]) -> str:
    assert not any("'" in w or "\\" in w for w in words), words
    return "array(" + ", ".join(f"'{w}'" for w in words) + ")"


def hits_in_tokens_spark_sql(toks_sql: str, words: tuple[str, ...]) -> str:
    """Count of tokens of the array ``toks_sql`` that are in ``words``
    (with repeats)."""
    arr = _array_lit_spark_sql(words)
    return f"size(filter({toks_sql}, t -> array_contains({arr}, t)))"


def lang_id_from_hits_spark_sql(hits_sql: dict[str, str]) -> str:
    """Argmax language from precomputed per-language hit counts, 'unknown'
    when nothing matches; earlier langs win ties (the precedence of
    :func:`lang_id_sql`). The CASE is NESTED, one branch per language: a
    flat 5-branch CASE defeats the optimizer's ``CASE = 'en'``
    simplification and leaves all five branch conditions in
    curation_pipeline's pushed filter, while the nested form reduces the
    pushed predicate to the matched branch's condition."""
    langs = list(LANG_STOPWORDS)
    expr = "'unknown'"
    for i in range(len(langs) - 1, -1, -1):
        lang = langs[i]
        conds = [f"{hits_sql[lang]} > 0"]
        for other in langs[i + 1 :]:
            conds.append(f"{hits_sql[lang]} >= {hits_sql[other]}")
        for other in langs[:i]:
            conds.append(f"{hits_sql[lang]} > {hits_sql[other]}")
        expr = (
            "CASE WHEN " + " AND ".join(conds) + f" THEN '{lang}' "
            f"ELSE {expr} END"
        )
    return expr


def quality_from_counts_spark_sql(n_sql: str, stop_sql: str, nu_sql: str) -> str:
    """Deterministic quality heuristic over precomputed counts (tokens,
    stopword hits, distinct tokens): length richness + non-stopword mass
    + lexical diversity, weighted 0.4/0.3/0.3 (illustrative policy). The
    DuckDB twin is :func:`quality_score_sql`; a weight change must edit
    both, and the parity suite catches a one-sided edit."""
    nd = f"CAST({n_sql} AS DOUBLE)"
    return (
        f"0.4D * least({nd} / 50.0D, 1.0D)"
        f" + 0.3D * (1.0D - CAST({stop_sql} AS DOUBLE) / {nd})"
        f" + 0.3D * (CAST({nu_sql} AS DOUBLE) / {n_sql})"
    )


def gopher_pass_spark_sql(toks_sql: str) -> str:
    """Gopher pass flag over a token array: the conjunction of the five
    rules whose per-rule fields :func:`gopher_flags_sql` (the DuckDB twin)
    reports."""
    n = f"size({toks_sql})"
    nd = f"CAST({n} AS DOUBLE)"
    # mean word length from token lengths (length(text)/n would miscount
    # separator runs)
    tok_chars = (
        f"aggregate(transform({toks_sql}, w -> length(w)), 0, (a, v) -> a + v)"
    )
    mean_len = f"CAST({tok_chars} AS DOUBLE) / {nd}"
    symbols = (
        f"size(filter({toks_sql}, w -> contains(w, '#')))"
        f" + size(filter({toks_sql}, w -> contains(w, '...')))"
    )
    alpha = f"size(filter({toks_sql}, w -> w RLIKE '[A-Za-z]'))"
    stops = (
        f"size(array_distinct(filter({toks_sql}, w -> "
        f"array_contains({_array_lit_spark_sql(ALL_STOPWORDS)}, w))))"
    )
    return (
        f"({n} >= {GOPHER_MIN_WORDS} AND {n} <= {GOPHER_MAX_WORDS})"
        f" AND ({mean_len} >= {GOPHER_MIN_MEAN_WORD_LEN}D"
        f" AND {mean_len} <= {GOPHER_MAX_MEAN_WORD_LEN}D)"
        f" AND (CAST({symbols} AS DOUBLE) / {nd} <= {GOPHER_MAX_SYMBOL_RATIO}D)"
        f" AND (CAST({alpha} AS DOUBLE) / {nd} >= {GOPHER_MIN_ALPHA_WORD_FRAC}D)"
        f" AND ({stops} >= {GOPHER_MIN_DISTINCT_STOPWORDS})"
    )


def bigrams_of_tokens_spark_sql(toks_sql: str) -> str:
    """Token 2-grams of the array ``toks_sql`` as 'tok_i tok_i+1' strings,
    built with array HOFs — no explode, no shuffle, a per-row expression."""
    return (
        f"transform(slice({toks_sql}, 1, greatest(size({toks_sql}) - 1, 0)),"
        f" (x, i) -> concat(x, ' ', element_at({toks_sql}, i + 2)))"
    )


def stopword_hits_sql(text_expr: str, words: tuple[str, ...]) -> str:
    return (
        f"CAST(len(list_filter(string_split_regex({text_expr}, '\\s+'),"
        f" t -> t IN ({_in_list_sql(words)}))) AS INT)"
    )


def lang_id_sql(text_expr: str) -> str:
    hits = {
        lang: stopword_hits_sql(text_expr, ws) for lang, ws in LANG_STOPWORDS.items()
    }
    langs = list(LANG_STOPWORDS)
    sql = "'unknown'"
    for i in range(len(langs) - 1, -1, -1):
        lang = langs[i]
        conds = [f"{hits[lang]} > 0"]
        conds += [f"{hits[lang]} >= {hits[o]}" for o in langs[i + 1 :]]
        conds += [f"{hits[lang]} > {hits[o]}" for o in langs[:i]]
        sql = f"CASE WHEN {' AND '.join(conds)} THEN '{lang}' ELSE {sql} END"
    return sql


def quality_score_sql(text_expr: str) -> str:
    toks = f"string_split_regex({text_expr}, '\\s+')"
    n = f"CAST(len({toks}) AS DOUBLE)"
    stop = stopword_hits_sql(text_expr, ALL_STOPWORDS)
    uniq = f"CAST(len(list_distinct({toks})) AS DOUBLE) / len({toks})"
    return (
        f"0.4 * LEAST({n} / 50.0, 1.0)"
        f" + 0.3 * (1.0 - CAST({stop} AS DOUBLE) / {n})"
        f" + 0.3 * ({uniq})"
    )


def fingerprint(col: Column | str) -> Column:
    """Canonical document fingerprint: md5 of whitespace-collapsed,
    lower-cased, trimmed text. The exact-dedup key."""
    return F.md5(F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))))


def fingerprint_sql(text_expr: str) -> str:
    return f"md5(lower(trim(regexp_replace({text_expr}, '\\s+', ' ', 'g'))))"


def repetition_agg(df, tokens_col: str, id_col: str = "doc_id"):
    """Gopher-style repetition signals per doc over the token array
    ``tokens_col``: (id, n_bigrams, top_bigram_n, dup_bigram_mass).
    top_bigram_n = occurrences of the most frequent bigram;
    dup_bigram_mass = total occurrences of bigrams seen more than once
    (Rae et al. 2021 §A1.1, on token counts).

    No zero-fill: docs whose text has no bigrams are absent (left-join +
    coalesce at the call site). Explode → two hash aggregates keyed
    (doc_id[, bigram]) stays in whole-stage codegen at linear work per
    row; an interpreted per-row ``aggregate`` fold over a struct
    accumulator was ~20× slower even on short docs (10.7 s vs ~0.5 s for
    5000 ~50-token docs at sf0.1).
    """
    bg = F.expr(bigrams_of_tokens_spark_sql(tokens_col))
    per_bg = (
        df.select(id_col, F.explode(bg).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.expr("count(1)").alias("c"))
    )
    # Aggregates as parsed SQL strings: one py4j trip each.
    return per_bg.groupBy(id_col).agg(
        F.expr("CAST(sum(c) AS BIGINT)").alias("n_bigrams"),
        F.expr("CAST(max(c) AS BIGINT)").alias("top_bigram_n"),
        F.expr(
            "CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)"
        ).alias("dup_bigram_mass"),
    )


def _bigrams_sql(text_expr: str) -> str:
    l = f"string_split_regex({text_expr}, '\\s+')"
    return (
        f"list_transform(list_zip({l}[1:len({l})-1], {l}[2:len({l})]),"
        " p -> p[1] || ' ' || p[2])"
    )


def _bigram_hist_vals_sql(text_expr: str) -> str:
    return f"map_values(list_aggregate({_bigrams_sql(text_expr)}, 'histogram'))"


def top_bigram_frac_sql(text_expr: str) -> str:
    vals = _bigram_hist_vals_sql(text_expr)
    n = f"len({_bigrams_sql(text_expr)})"
    return (
        f"CASE WHEN {n} > 0 THEN CAST(list_max({vals}) AS DOUBLE) / {n}"
        " ELSE 0.0 END"
    )


def dup_bigram_frac_sql(text_expr: str) -> str:
    vals = _bigram_hist_vals_sql(text_expr)
    n = f"len({_bigrams_sql(text_expr)})"
    return (
        f"CASE WHEN {n} > 0 THEN"
        f" CAST(coalesce(list_sum(list_filter({vals}, c -> c > 1)), 0)"
        f" AS DOUBLE) / {n} ELSE 0.0 END"
    )


# PII redaction: ordered (pattern, replacement) pairs. Patterns stay inside
# the regex subset Java and RE2/DuckDB share (no lookaround, no backrefs) so
# the Spark column and the SQL oracle are literally the same regexes. Order
# matters: emails before phones (digits in hostnames), IPs before phones.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"(?:[0-9]{1,3}\.){3}[0-9]{1,3}", "[IP]"),
    (r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "[SSN]"),
    (
        r"(?:\+?[0-9]{1,2}[-. ]?)?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}",
        "[PHONE]",
    ),
)


def redact_pii(col: Column | str) -> Column:
    """Scrub emails / IPv4s / SSNs / US-style phone numbers to typed
    placeholder tags. A chain of JVM ``regexp_replace`` calls — whole-stage
    codegen, linear in input bytes, no Python. The standard pre-training
    redaction pass (the production variant swaps in NER-model spans via a
    Pandas UDF; the operator contract — text in, redacted text out — is
    identical)."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, tag in PII_PATTERNS:
        c = F.regexp_replace(c, pat, tag)
    return c


def pii_hits(col: Column | str) -> Column:
    """Count of PII spans that redaction would replace (cheap audit metric:
    sum it per source to find leaky providers before training)."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.lit(0)
    for pat, tag in PII_PATTERNS:
        total = total + F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        # redact as we count, exactly like redact_pii, so later patterns
        # can't re-match inside spans an earlier pattern already claimed
        c = F.regexp_replace(c, pat, tag)
    return total


def redact_pii_sql(text_expr: str) -> str:
    sql = text_expr
    for pat, tag in PII_PATTERNS:
        # DuckDB standard strings pass backslashes through verbatim — only
        # quotes need escaping for the literally-identical regex to land.
        p = pat.replace("'", "''")
        sql = f"regexp_replace({sql}, '{p}', '{tag}', 'g')"
    return sql


def pii_hits_sql(text_expr: str) -> str:
    sql = text_expr
    terms = []
    for pat, tag in PII_PATTERNS:
        p = pat.replace("'", "''")
        terms.append(f"len(regexp_extract_all({sql}, '{p}'))")
        sql = f"regexp_replace({sql}, '{p}', '{tag}', 'g')"
    return "CAST(" + " + ".join(terms) + " AS INT)"


# Gopher-style rule battery (Rae et al. 2021, "Scaling Language Models",
# table A1 — thresholds adapted): hard per-document filters that run BEFORE
# model-based quality scoring in a pretraining pipeline. Every rule is a
# pure codegen expression over one tokenization (:func:`gopher_pass_spark_sql`),
# with a per-rule DuckDB SQL twin (:func:`gopher_flags_sql`).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1  # '#' and '...' per word
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8  # words containing >= 1 alphabetic char
GOPHER_MIN_DISTINCT_STOPWORDS = 2


def gopher_flags_sql(text_expr: str) -> str:
    """DuckDB struct_pack of the per-rule Gopher flags — word_count_ok,
    mean_word_len_ok, symbol_ratio_ok, alpha_frac_ok, stopwords_ok — and
    their conjunction pass_gopher, the twin of
    :func:`gopher_pass_spark_sql`."""
    t = f"string_split_regex({text_expr}, '\\s+')"
    n = f"len({t})"
    nd = f"CAST({n} AS DOUBLE)"
    mean_len = f"CAST(list_sum(list_transform({t}, w -> length(w))) AS DOUBLE) / {nd}"
    symbols = (
        f"(len(list_filter({t}, w -> contains(w, '#')))"
        f" + len(list_filter({t}, w -> contains(w, '...'))))"
    )
    alpha = f"len(list_filter({t}, w -> regexp_matches(w, '[A-Za-z]')))"
    stops = (
        f"len(list_distinct(list_filter({t},"
        f" w -> w IN ({_in_list_sql(ALL_STOPWORDS)}))))"
    )
    wc = f"({n} >= {GOPHER_MIN_WORDS} AND {n} <= {GOPHER_MAX_WORDS})"
    ml = (
        f"({mean_len} >= {GOPHER_MIN_MEAN_WORD_LEN}"
        f" AND {mean_len} <= {GOPHER_MAX_MEAN_WORD_LEN})"
    )
    sy = f"(CAST({symbols} AS DOUBLE) / {nd} <= {GOPHER_MAX_SYMBOL_RATIO})"
    al = f"(CAST({alpha} AS DOUBLE) / {nd} >= {GOPHER_MIN_ALPHA_WORD_FRAC})"
    st = f"({stops} >= {GOPHER_MIN_DISTINCT_STOPWORDS})"
    return (
        "struct_pack(word_count_ok := {wc}, mean_word_len_ok := {ml},"
        " symbol_ratio_ok := {sy}, alpha_frac_ok := {al},"
        " stopwords_ok := {st},"
        " pass_gopher := ({wc} AND {ml} AND {sy} AND {al} AND {st}))"
    ).format(wc=wc, ml=ml, sy=sy, al=al, st=st)

