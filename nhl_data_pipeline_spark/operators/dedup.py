"""Near-duplicate detection operators: shingling, MinHash+LSH, SimHash.

Every near-dup plan is composed from four shared kernels, each the one
Spark implementation of its step:
- :func:`kgram_rows` — posexplode + lead() windows, one row per complete
  k-gram (shingles and winnowing fingerprints are built on it);
- :func:`minhash_bands` — k seeded-md5 MIN aggregates → band md5 keys →
  one row per (group, band) (the LSH band table and contamination_check);
- :func:`band_pairs` — distinct ``a < b`` id pairs from an equi-self-join
  on band keys (MinHash, hyperplane-LSH and k-means-blocked LSH);
- :func:`jaccard_pairs` — exact shingle-Jaccard pairs at J ≥ 0.8 from an
  exploded shingle table (dedup_ngram_jaccard and bench.py's dedup probe).

All portable-deterministic: hashes are md5 strings (identical in every
engine), MinHash takes the lexicographic MIN of seeded md5s, SimHash derives
bits from md5 hex nibbles. No engine-specific hash functions, no Python in
the hot path — everything is Spark higher-order array functions over a
tokens column, so the per-document work is JVM-vectorized and the only
shuffles are the candidate-pair joins.

Scale design (100 TB posture):
- shingle→explode→equi-join is the exact-jaccard path; its join fan-out is
  bounded by shingle frequency — at scale, drop top-frequency shingles
  (stop-shingles) before the join, exactly like skew salting.
- MinHash+LSH replaces the all-pairs comparison with b band-bucket
  equi-joins (b*r = k): only same-bucket docs meet, so cost tracks true
  near-dup density instead of n².
- SimHash gives a single 16-bit bucket per doc: one groupBy, no join, for
  coarse near-dup clustering.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------- shingles


def kgram_rows(
    docs: DataFrame, tokens_col: Column, n: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, tok, pos, t1, …, t{n-1}) — one row per COMPLETE n-gram of the
    tokens array, starting at token ``pos``: posexplode the tokens, then
    lead(tok, 1..n-1) windows over (id, pos). Rows whose last lead is null
    (the final n-1 positions, and every row of a doc with < n tokens) are
    dropped. Whole-stage codegen; the window costs one exchange on id.
    (tok before pos matches the shingle plans pinned in docs/PLANS.md;
    winnowing pays a free in-codegen column reorder for it.)"""
    from pyspark.sql.window import Window

    tok = docs.select(id_col, F.posexplode(tokens_col).alias("pos", "tok"))
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tok", i).over(w).alias(f"t{i}") for i in range(1, n)]
    return tok.select(id_col, "tok", "pos", *leads).filter(
        F.col(f"t{n - 1}").isNotNull()
    )


def exploded_distinct_shingles(
    docs: DataFrame,
    tokens_col: Column,
    n: int = 3,
    id_col: str = "doc_id",
    hash_shingles: bool = False,
) -> DataFrame:
    """(id, n, s) rows — one per DISTINCT n-gram shingle — built entirely in
    whole-stage codegen: the :func:`kgram_rows` n-tuples are concatenated
    (or hashed), deduped, and the set size is counted.

    This is the fastest shingle path (no Python workers, no interpreted
    higher-order functions — 3-4× faster than the Arrow-batched builder at
    sf0.1) and costs exactly ONE exchange: the dedup keys contain id and
    the frameless count window needs no order, so both reuse the lead
    window's id hash partitioning. Docs with < n tokens vanish (their last
    lead is always null) — same guard as :func:`shingles`.

    Rejected (guide §1.1): an element_at-over-the-carried-array form
    (no lead windows — the rewrite that DID win inside operators/lm.py by
    deleting that plan's exchange) was A/B'd here and REJECTED: every
    consumer of this table needs the id distribution immediately anyway,
    so the window costs only a SORT of rows that posexplode emits already
    (id, pos)-clustered (near-O(n) TimSort), while element_at pays
    bounds-checked random array reads per shingle — alternating arms in
    one session read lead-window 0.222-0.513 s vs element_at 0.265-0.533
    at sf0.1, and the full jaccard query's executor CPU rose ~15-30%
    under element_at (bench_logs/r13/probe_shingle_ab_sf01.out).

    ``hash_shingles=True`` replaces the shingle string with a multi-arg
    ``xxhash64(tok, t1, …)`` over the token tuple (bigint): the dedup
    keys, the pair-join shuffle, and the pair groupBy all move 8-byte
    longs instead of ~25-byte strings (~20% faster end-to-end on the
    jaccard query at sf0.1), and hashing the tuple directly skips the
    concat allocation too (a further ~30% off this stage, measured).
    Tuple equality ⇔ concat-string equality because tokens are \\s+-split
    and cannot contain spaces, so the distinct sets match the string-keyed
    oracle exactly. A collision would merge two distinct shingles; the
    birthday bound at D distinct shingles is ~D²/2⁶⁵ (≈4e-9 at sf0.1's
    260k) and the DuckDB oracle cross-checks every downstream result, so
    a collision that altered anything would fail the correctness gate.
    MinHash/SimHash consumers keep the string form — their seeded-md5
    hash families are defined over it.
    """
    from pyspark.sql.window import Window

    parts = ["tok", *[f"t{i}" for i in range(1, n)]]
    s = F.xxhash64(*parts) if hash_shingles else F.concat_ws(" ", *parts)
    grams = kgram_rows(docs, tokens_col, n, id_col).select(id_col, s.alias("s"))
    return grams.dropDuplicates([id_col, "s"]).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy(id_col)).cast("bigint")
    )


def drop_stop_shingles(
    sh: DataFrame, max_df: int, id_col: str = "doc_id"
) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df`` from an
    exploded (id, n, s) shingle table, recomputing the per-doc set size.

    This is the skew gate the naive all-shingle jaccard join needs at scale
    (module docstring, "drop top-frequency shingles before the join"): the
    join's fan-out is Σ df(s)² over shingles, so a boilerplate shingle shared
    by every doc of a web template contributes df² pairs on its own. Hot
    shingles are FEW by definition (df > max_df bounds their count at
    |corpus-shingle-rows| / max_df), so the hot set broadcasts and the drop
    is a broadcast anti-join — no extra shuffle on the big side beyond the
    df groupBy.

    Semantics: downstream jaccard is exact over the REDUCED shingle universe
    — i.e. boilerplate is treated as stop-words, which for near-dup curation
    is usually the wanted behavior (two docs are not near-dups merely for
    sharing a nav bar; cf. the line-level pass in operators/lines.py which
    removes boilerplate from the text itself). Docs whose shingles are all
    hot drop out entirely and must be handled by the caller (they are pure
    boilerplate). Measured effect: bench.py::_dedup_scale_probe's boiler3k
    corpus — the naive join goes from quadratic blow-up to clean-corpus
    speed once the 58 boilerplate shingles (df=3000) are dropped.
    """
    from pyspark.sql.window import Window

    hot = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("s")
    )
    return (
        sh.join(F.broadcast(hot), "s", "left_anti")
        .select(id_col, "s")
        .withColumn(
            "n",
            F.count(F.lit(1)).over(Window.partitionBy(id_col)).cast("bigint"),
        )
    )


def jaccard_pairs(sh: DataFrame, width: int | None = None) -> DataFrame:
    """(doc_a, doc_b, jaccard) — every pair doc_a < doc_b of an exploded
    (doc_id, n, s) shingle table with Jaccard ≥ 0.8, exact: a self
    equi-join on ``s``, the exact-preserving length prefilter
    4·max(n_a, n_b) ≤ 5·min(n_a, n_b) (J ≤ min/max, so it is implied by
    J ≥ 0.8) before the pair COUNT aggregate, then J = common / union.

    ``width``: each side is repartitioned on ``s`` at ``width``
    (REPARTITION_BY_NUM satisfies the join's distribution, so
    EnsureRequirements plants nothing on top and AQE cannot coalesce the
    join below ``width``). A repartition-once-then-cache variant
    re-exchanged BOTH sides at the session width: the self-join
    re-aliases one side's attributes and the cached HashPartitioning no
    longer matches. ``width=None`` leaves every exchange to the planner.

    The build side is hinted shuffle_hash: it skips the sort-merge sort on
    the shingle key (~40% faster here). Filters are parsed SQL strings:
    the same expression trees in a fraction of the py4j round trips
    (bench_logs/r12/probe_chatter_attr_wave0.json)."""
    a = sh.selectExpr("doc_id AS doc_a", "n AS n_a", "s")
    b = sh.selectExpr("doc_id AS doc_b", "n AS n_b", "s")
    if width is not None:
        a = a.repartition(width, F.col("s"))
        b = b.repartition(width, F.col("s"))
    pairs = a.join(b.hint("shuffle_hash"), ["s"]).filter(
        "doc_a < doc_b AND 4 * greatest(n_a, n_b) <= 5 * least(n_a, n_b)"
    )
    common = pairs.groupBy("doc_a", "doc_b", "n_a", "n_b").agg(
        F.expr("count(1)").alias("n_common")
    )
    return (
        common.withColumn(
            "jaccard",
            F.expr("CAST(n_common AS DOUBLE) / (n_a + n_b - n_common)"),
        )
        .filter("jaccard >= 0.8D")
        .select("doc_a", "doc_b", "jaccard")
    )


def shingles(tokens_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a tokens array.

    Guard: docs with < n tokens get an empty array (Spark's sequence(1, k)
    DESCENDS when k < 1, unlike SQL generate_series — do not remove the
    WHEN)."""
    make = F.transform(
        F.sequence(F.lit(1), F.size(tokens_col) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(tokens_col, i, n)),
    )
    return F.when(F.size(tokens_col) >= n, F.array_distinct(make)).otherwise(
        F.array().cast("array<string>")
    )


def shingles_sql(toks_expr: str, n: int = 3) -> str:
    """DuckDB fragment producing the same distinct n-gram shingle list."""
    return (
        f"list_distinct(list_transform(generate_series(1, len({toks_expr}) - {n - 1}),"
        f" i -> array_to_string(list_slice({toks_expr}, i, i + {n - 1}), ' ')))"
    )


# ---------------------------------------------------------------- minhash


def minhash_signature_sql(shingles_expr: str, k: int = 12) -> str:
    """DuckDB k-element MinHash signature: per seed, the lexicographic min
    of md5('<seed>|' || shingle). String-min MinHash is engine-portable and
    keeps the Jaccard-estimation property (any uniform hash works)."""
    mins = ", ".join(
        f"list_min(list_transform({shingles_expr}, s -> md5('{seed}|' || s)))"
        for seed in range(k)
    )
    return f"[{mins}]"


def minhash_bands(
    sh: DataFrame, group_cols: list[str], k: int, bands: int, rows: int
) -> DataFrame:
    """(group_cols…, sig, band_idx, band_key) — one row per (group, band)
    of the MinHash-LSH signature over an exploded string-shingle table
    ``sh`` (column ``s``): sig[i] = MIN(md5('<i>|' || s)) per group,
    band b's key = md5 of sig[b·rows .. b·rows+rows-1] joined by '|',
    band_idx = 1..bands. Values match the DuckDB
    :func:`minhash_signature_sql` / :func:`lsh_band_keys_sql` twins.

    The k MIN aggregates are plain codegen aggregates that reuse the
    shingle stage's id partitioning (no exchange when ``group_cols`` start
    with that id). Seeds and band keys are rendered as SQL text, parsed
    JVM-side in one py4j round trip each instead of ~6 per Column node
    (bench_logs/r12/probe_chatter_attr_wave0.json); the expression trees
    are the same. Band keys are md5s over plain signature columns: no
    lambdas, so no interpreted evaluation and no sibling-lambda collision."""
    hs = [f"h{i}" for i in range(k)]
    sigs = sh.groupBy(*group_cols).agg(
        *[F.expr(f"min(md5(concat('{i}|', s)))").alias(h) for i, h in enumerate(hs)]
    )
    bkeys = ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(hs[b * rows : (b + 1) * rows])
        + "))"
        for b in range(bands)
    )
    return sigs.select(
        *group_cols,
        F.expr(f"array({', '.join(hs)})").alias("sig"),
        F.posexplode(F.expr(f"array({bkeys})")).alias("band_idx0", "band_key"),
    ).select(
        *group_cols, "sig", (F.col("band_idx0") + 1).alias("band_idx"), "band_key"
    )


def lsh_band_keys_sql(sig_expr: str, bands: int, rows: int) -> str:
    keys = ", ".join(
        "md5(" + " || '|' || ".join(f"{sig_expr}[{b * rows + r + 1}]" for r in range(rows)) + ")"
        for b in range(bands)
    )
    return f"[{keys}]"


def band_pairs(
    bands: DataFrame,
    keys: list[str],
    id_col: str,
    names: tuple[str, str],
) -> DataFrame:
    """Distinct (a, b) id pairs, a < b, of rows that share every column in
    ``keys`` — the banded LSH self-join. ``names`` names the two id
    columns. Each side carries the id (renamed) and ``keys`` in the order
    they have in ``bands``. The exchange is left to the planner
    (broadcast at fixture scale, session-width exchanges above). Callers
    persist ``bands``: it feeds both sides."""
    def side(name: str) -> DataFrame:
        cols = [
            F.col(c).alias(name) if c == id_col else F.col(c)
            for c in bands.columns
            if c == id_col or c in keys
        ]
        return bands.select(*cols)

    a, b = names
    return (
        side(a).join(side(b), list(keys))
        .filter(f"{a} < {b}")
        .select(a, b)
        .distinct()
    )


# ---------------------------------------------------------------- simhash

_HEX = "0123456789abcdef"


def simhash(tokens_col: str, bits: int = 16) -> Column:
    """bits-bit SimHash over a tokens array column (by name).

    Bit b of each token's md5 is nibble (hex char) b//4, bit b%4. Sum the
    ±1 contributions across tokens; bit is 1 where the sum is positive.
    Pure integer/string ops — identical in any engine. Built as SQL text
    with a unique lambda variable per bit: repeated Python-lambda
    higher-order functions inside one expression make Spark's sibling
    lambda variables collide and silently return wrong values.
    """
    terms = []
    for b in range(bits):
        pos, div = b // 4 + 1, 2 ** (b % 4)
        bit = (
            f"CAST(floor((instr('{_HEX}', substring(md5(t{b}), {pos}, 1)) - 1)"
            f" / {div}) AS BIGINT) % 2"
        )
        s = (
            f"aggregate({tokens_col}, CAST(0 AS BIGINT),"
            f" (a{b}, t{b}) -> a{b} + ({bit}) * 2 - 1)"
        )
        terms.append(f"CASE WHEN ({s}) > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END")
    return F.expr("(" + " + ".join(terms) + ")")


def simhash_exploded(
    docs: DataFrame, tokens_col: Column, bits: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) via explode + codegen sum aggregates — the fast twin
    of :func:`simhash` (bit-identical output, same oracle).

    The array form runs `bits` interpreted aggregate() passes and computes
    each token's md5 `bits` times; here the md5 is computed ONCE per token
    and the ±1 contributions are `bits` plain SUM aggregates with map-side
    partials, all inside whole-stage codegen (measured 2.6× warm, ~7× cold at sf0.1). explode_outer
    keeps empty-token docs (their all-NULL sums compare false to 0, giving
    bit 0 — the HOF form's empty-fold base case).

    Cost: one exchange carrying (id, `bits` partial sums) per map
    partition — at 100 TB this moves aggregated counters, never tokens.
    """
    tok = docs.select(id_col, F.explode_outer(tokens_col).alias("t"))
    h = F.md5("t")
    sums = []
    for b in range(bits):
        pos, div = b // 4 + 1, 2 ** (b % 4)
        bit = (
            F.floor((F.instr(F.lit(_HEX), F.substring(h, pos, 1)) - 1) / div)
            .cast("bigint")
            % 2
        )
        sums.append(F.sum(bit * 2 - 1).alias(f"b{b}"))
    agg = tok.groupBy(id_col).agg(*sums)
    value = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"b{b}") > 0, F.lit(2**b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        ),
        range(1, bits),
        F.when(F.col("b0") > 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        ),
    )
    return agg.select(id_col, value.alias(f"simhash{bits}"))


def simhash_sql(toks_expr: str, bits: int = 16) -> str:
    md5s = f"list_transform({toks_expr}, t -> md5(t))"
    terms = []
    for b in range(bits):
        pos, div = b // 4 + 1, 2 ** (b % 4)
        bit = (
            f"(CAST(floor((strpos('{_HEX}', h[{pos}]) - 1) / {div}) AS BIGINT) % 2)"
        )
        s = f"list_sum(list_transform({md5s}, h -> {bit} * 2 - 1))"
        terms.append(f"CASE WHEN {s} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


# ------------------------------------------------------------ exact dedup


def exact_dedup_keep_min(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Exact dedup: group by content fingerprint, keep the smallest id.
    One hash-aggregate shuffle on the fingerprint — the 100 TB-safe shape
    (no window, no sort)."""
    return (
        df.select(key.alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(f"keep_{id_col}"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def dedup_against_reference(
    new_docs: DataFrame,
    reference_fps: DataFrame,
    key: Column,
    *,
    fp_col: str = "fp",
) -> DataFrame:
    """Incremental (cross-snapshot) exact dedup: drop incoming docs whose
    content fingerprint already exists in a reference set.

    The "don't re-ingest what's already in the training set" primitive —
    each crawl/snapshot dedups against the accumulated fingerprint table,
    not against itself. `reference_fps` is the (fp) table persisted from
    previous runs (orders of magnitude narrower than the corpus: 16 bytes
    per UNIQUE document ever seen); the filter is a LEFT ANTI join on the
    fingerprint — broadcast while the reference fits (driver-side
    dedup ledgers often do), shuffled-hash beyond that, never a full
    rescan of historical text. Compose with exact_dedup_keep_min on the
    survivors to also dedup the increment internally — the incremental
    append shape (anti-join the increment against what is loaded), keyed
    on content instead of an id.
    """
    tmp = "__ref_fp"  # collision-safe: never clobber a caller's fp column
    keyed = new_docs.withColumn(tmp, key)
    return keyed.join(
        reference_fps.select(F.col(fp_col).alias(tmp)).distinct(),
        tmp,
        "left_anti",
    ).drop(tmp)


def lsh_band_table(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    rows: int = 3,
    short_doc_fallback: bool = True,
) -> DataFrame:
    """(id, band_idx, band_key) — one row per (doc, band), the join-able
    form of the MinHash-LSH signature: exploded distinct shingles →
    :func:`minhash_bands`.

    Docs shorter than the shingle width have NO MinHash signature; for
    them one synthetic band_idx=0 row carries the exact content
    fingerprint instead (real bands are 1..bands, so the namespaces never
    collide). Without it, short docs would be invisible to
    :func:`neardup_against_ledger` — never entering the ledger, re-admitted
    on every increment, and breaking the re-run-flags-everything
    idempotence contract. Exact-match-only dedup is the correct
    degradation for texts with no shingles to compare."""
    from nhl_data_pipeline_spark.operators.text import fingerprint, tokens

    base = docs.select(F.col(id_col), F.col(text_col))
    sh = exploded_distinct_shingles(
        base, tokens(F.col(text_col)), n, id_col=id_col
    )
    banded = minhash_bands(sh, [id_col], k, bands, rows).select(
        id_col, "band_idx", "band_key"
    )
    if not short_doc_fallback:
        # batch pair-generation semantics (minhash_band_pairs): short docs
        # simply have no signature and never pair — matches the registered
        # dedup_minhash_lsh oracle's len(tokens) >= n filter.
        return banded
    # NULL text must still produce a JOINABLE band key: md5(NULL) is NULL,
    # a NULL band_key never equi-matches the ledger, and the doc would be
    # re-admitted on every increment — the exact idempotence break this
    # fallback exists to prevent. Coalescing to '' keys all NULL-text
    # docs into one exact-dup band, which is the fallback's semantics
    # (identical short content ⇒ same band).
    # The docs with a signature are the distinct ids of the shingle table.
    short = base.join(sh.select(id_col).distinct(), id_col, "left_anti").select(
        id_col,
        F.lit(0).alias("band_idx"),
        fingerprint(F.coalesce(F.col(text_col), F.lit(""))).alias("band_key"),
    )
    return banded.unionByName(short)


def neardup_against_ledger(
    new_docs: DataFrame,
    ledger: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    rows: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental NEAR-dup dedup: the MinHash-LSH analog of
    :func:`dedup_against_reference` (which is exact-fingerprint only).

    ``ledger`` is the accumulated (band_idx, band_key, owner_id) table of
    every document ever ADMITTED to the corpus — (16+4) bytes × bands per
    historical doc, orders of magnitude narrower than the text, and the
    only state the increment touches (historical text is never
    rescanned). Returns ``(kept, flagged, new_entries)``:

    - ``flagged``: incoming docs sharing ≥1 band key with the ledger,
      with the colliding owner_id(s) for provenance — LSH candidates,
      i.e. probable near-dups of history. Candidate semantics are the
      same recall/precision trade as the batch `dedup_minhash_lsh` query
      (1-(1-j^rows)^bands); pipelines wanting exactness verify flagged
      docs against ONLY the owners listed (a tiny targeted fetch), not
      the corpus.
    - ``kept``: incoming docs with no ledger collision. NOTE: kept docs
      are deduped against HISTORY, not against each other — compose
      batch-internal dedup (minhash_band_pairs / duplicate_clusters) on
      the increment first or after, exactly as dedup_against_reference
      composes with exact_dedup_keep_min.
    - ``new_entries``: the kept docs' band rows keyed as owner_id, ready
      to union into the ledger for the next increment (idempotence: the
      same batch re-run against the updated ledger flags every doc).

    Scale shape: one band-table build over the INCREMENT; the collision
    check is a semi/inner join on (band_idx, band_key) — broadcast while
    the increment's key set fits, shuffled-hash on the 16-byte key
    beyond; the ledger grows by O(bands) rows per admitted doc.
    """
    # Persisted: the increment's band table feeds BOTH the collision
    # check and new_entries, and flagged_ids feeds three consumers
    # (flagged / kept / new_entries) — without the persists each consumer
    # re-shingles and re-hashes the increment text (plan-fingerprinted in
    # the doc_signature_dedup driver row). Increment-sized state only;
    # the ledger is never materialized here.
    bt = lsh_band_table(
        new_docs, id_col=id_col, text_col=text_col, n=n, k=k,
        bands=bands, rows=rows,
    ).persist()
    led = ledger.select("band_idx", "band_key", "owner_id")
    flagged_ids = (
        bt.join(led, ["band_idx", "band_key"])
        .groupBy(id_col)
        .agg(F.collect_set("owner_id").alias("candidate_owners"))
        .persist()
    )
    flagged = new_docs.join(flagged_ids, id_col)
    kept = new_docs.join(flagged_ids.select(id_col), id_col, "left_anti")
    new_entries = bt.join(
        flagged_ids.select(id_col), id_col, "left_anti"
    ).select("band_idx", "band_key", F.col(id_col).alias("owner_id"))
    return kept, flagged, new_entries


# ----------------------------------------------------------- winnowing


def winnowing_fingerprints(
    docs: DataFrame,
    tokens_col: Column,
    k: int = 5,
    window: int = 4,
    id_col: str = "doc_id",
    hash_fn=None,
) -> DataFrame:
    """(id, fp) rolling-hash document fingerprints by winnowing (Schleimer
    et al., SIGMOD'03 — the MOSS algorithm): hash every k-gram, then keep
    the MINIMUM hash of each sliding window of `window` consecutive
    k-grams. Guarantees any shared run of k+window-1 tokens between two
    docs shares a fingerprint, at ~2/(window+1) the density of full
    shingling — the shift-robust, sub-document analog of
    doc_fingerprint_dedup's whole-content hash (reference analog: none;
    its dedup is whole-row only).

    Plan: :func:`kgram_rows` k-grams hashed (the exploded-shingle shape),
    then a min over a ROWS window of `window` — all whole-stage codegen,
    one exchange on the doc id, distinct fingerprints per doc at the end.
    At 100 TB the fingerprint table is ~2/(window+1) of the shingle table
    and joins the same way (equi-join on fp = candidate pairs).

    ``hash_fn`` (list of k token Columns → hash Column) overrides the
    default xxhash64 long. Any total-ordered hash yields a valid winnowing
    (the min-in-window rule only needs a consistent order); the registered
    parity query passes an md5-over-concat variant whose lexicographic min
    DuckDB reproduces exactly, while the engine default stays the cheaper
    8-byte xxhash64.
    """
    from pyspark.sql.window import Window

    gram_cols = [F.col("tok"), *[F.col(f"t{i}") for i in range(1, k)]]
    h = hash_fn(gram_cols) if hash_fn is not None else F.xxhash64(*gram_cols)
    grams = kgram_rows(docs, tokens_col, k, id_col).select(
        id_col, "pos", h.alias("h")
    )
    wmin = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    fps = grams.select(
        id_col,
        "pos",
        F.min("h").over(wmin).alias("fp"),
        F.max(F.col("pos")).over(Window.partitionBy(id_col)).alias("max_pos"),
    )
    # A window anchored at pos is complete iff its last k-gram exists
    # (pos + window - 1 <= last k-gram position). Incomplete tail windows
    # would re-select suffix minima full shingling wouldn't guarantee.
    return (
        fps.filter(F.col("pos") + (window - 1) <= F.col("max_pos"))
        .select(id_col, "fp")
        .distinct()
    )
