"""Distributed BPE vocabulary training + encoding over a Spark corpus.

The tokenizer-training stage of an LLM data pipeline, built the way
production BPE trainers actually scale: train on the WORD-FREQUENCY
table, not the raw corpus. Stage 1 is the only corpus-sized job (one
map-side-combinable word count); every merge iteration then runs over the
distinct-word table, which is orders of magnitude smaller (distinct words
grow ~O(corpus^0.7), Heaps' law) and stays distributed.

Per merge iteration:
1. PAIR COUNT: explode each word's adjacent symbol pairs, weight by word
   frequency, groupBy(pair) sum — map-side combinable, one small shuffle;
2. ARGMAX: best pair by (count DESC, pair ASC) — a 1-row sort, the
   deterministic tiebreak making training a pure function of the corpus;
3. MERGE: rebuild every word's symbol array with a codegen aggregate()
   fold that replaces left-to-right non-overlapping occurrences of the
   pair — no Python in the loop; lineage is truncated per round with
   localCheckpoint (same pattern as operators/cluster.py label-prop).

Encoding applies the learned merges in rank order with the same fold, so
encode(train_corpus) is exactly the training segmentation. The pytest
twin is a plain-Python BPE (same pair definition, same tiebreak) —
merge-for-merge and segment-for-segment parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Merge = tuple[str, str]


def word_frequencies(
    docs: DataFrame, *, text_col: str = "text"
) -> DataFrame:
    """(word, freq) — the one corpus-sized job."""
    from nhl_data_pipeline_spark.operators.text import tokens

    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _chars(word: Column) -> Column:
    # sequence(1, 0) DESCENDS in Spark (default step -1), so a zero-length
    # word would yield [1, 0] → two phantom "" symbols; guard to empty.
    return F.when(
        F.length(word) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(word)),
            lambda i: word.substr(i, F.lit(1)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _merge_fold(syms: Column, a: str, b: str) -> Column:
    """Replace left-to-right non-overlapping (a,b) → a+b in one pass."""
    merged = a + b
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    pairs = words.select(
        "freq",
        F.explode(
            F.zip_with(
                F.slice(F.col("syms"), 1, F.size("syms") - 1),
                F.slice(F.col("syms"), 2, F.size("syms") - 1),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("pair"),
    )
    return pairs.groupBy("pair.a", "pair.b").agg(F.sum("freq").alias("n"))


def train_bpe(
    docs: DataFrame, n_merges: int, *, text_col: str = "text"
) -> tuple[list[Merge], DataFrame]:
    """Learn ``n_merges`` merge rules. Returns (merges in rank order,
    final (word, freq, syms) segmentation table)."""
    words = (
        word_frequencies(docs, text_col=text_col)
        .select("word", "freq", _chars(F.col("word")).alias("syms"))
        .localCheckpoint(eager=True)
    )
    merges: list[Merge] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(words)
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] <= 1:
            break  # nothing left worth merging (freq-1 pairs add no value)
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        words = words.select(
            "word", "freq", _merge_fold(F.col("syms"), a, b).alias("syms")
        ).localCheckpoint(eager=True)
    return merges, words


def train_bpe_driver(
    docs: DataFrame,
    n_merges: int,
    *,
    text_col: str = "text",
    max_words: int = 20_000_000,
) -> list[Merge]:
    """BPE training the way production tokenizer trainers actually run at
    corpus scale: Spark does the ONE corpus-sized job (the word-frequency
    groupBy — map-side combinable, shuffles only distinct words), then the
    merge loop runs driver-local over the compact vocabulary table with
    incremental pair-count maintenance.

    Why this is the 100 TB path: every distributed merge iteration costs a
    full Spark job over the word table (launch + shuffle latency dominate
    — measured 19.2 s for 89 merges at sf0.1; batching merges into
    provably-safe sorted prefixes measured slower still, 52.6 s, because
    natural text's near-tied, chain-adjacent pairs allow only ~1.6 merges
    per 3-job round), while the word table itself grows only
    ~O(corpus^0.7) (Heaps' law). The driver loop does the same 89 merges
    in milliseconds; a 32K-merge production vocab needs seconds, not 32K
    Spark jobs. ``max_words`` makes the driver-residency assumption
    explicit — beyond it (extreme vocabularies: no pre-tokenization,
    heavy code/URL content) training degrades to :func:`train_bpe`, which
    stays fully distributed and learns the same merges.

    Identical semantics to :func:`train_bpe` / the plain-Python reference
    in tests/test_bpe.py: pairs weighted by word frequency, argmax by
    (count DESC, pair ASC), left-to-right non-overlapping replacement,
    stop when the best count is ≤ 1. Parity is asserted merge-for-merge
    in tests/test_bpe.py.
    """
    from collections import Counter

    wf = word_frequencies(docs, text_col=text_col)
    rows = wf.limit(max_words + 1).collect()
    if len(rows) > max_words:
        return train_bpe(docs, n_merges, text_col=text_col)[0]
    freq = {r["word"]: r["freq"] for r in rows}
    # Deterministic iteration order (collect order is partition-dependent).
    words = sorted(freq)
    segs = {w: list(w) for w in words}
    counts: Counter = Counter()
    for w in words:
        f, syms = freq[w], segs[w]
        for x, y in zip(syms, syms[1:]):
            counts[(x, y)] += f
    merges: list[Merge] = []
    for _ in range(n_merges):
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] <= 1:
            break
        merges.append(best)
        a, b = best
        for w in words:
            syms = segs[w]
            # cheap adjacency test before paying the rebuild
            has = any(
                x == a and y == b for x, y in zip(syms, syms[1:])
            )
            if not has:
                continue
            f = freq[w]
            for x, y in zip(syms, syms[1:]):
                counts[(x, y)] -= f
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segs[w] = out
            for x, y in zip(out, out[1:]):
                counts[(x, y)] += f
        counts = +counts  # drop zero/negative residue so argmax stays clean
    return merges


def encode(
    df: DataFrame,
    merges: list[Merge],
    *,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply learned merges (in rank order) to every whitespace word of
    ``text_col``; appends ``out_col`` as array<string> of subword units.

    One codegen fold per merge rule — no Python, no shuffle; encoding is
    a stateless map however large the input."""
    from nhl_data_pipeline_spark.operators.text import tokens

    def encode_word(w: Column) -> Column:
        syms = _chars(w)
        for a, b in merges:
            syms = _merge_fold(syms, a, b)
        return syms

    # Drop empty whitespace tokens (leading/trailing spaces split to ""),
    # mirroring word_frequencies' filter — encode(train corpus) must BE
    # the training segmentation.
    words = F.filter(tokens(F.col(text_col)), lambda t: F.length(t) > 0)
    return df.withColumn(out_col, F.flatten(F.transform(words, encode_word)))


def vocabulary(words: DataFrame) -> DataFrame:
    """(token, n_words, total_freq) over a trained segmentation table."""
    return (
        words.select("freq", F.explode("syms").alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("freq").alias("total_freq"),
        )
    )
