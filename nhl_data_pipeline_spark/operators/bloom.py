"""Bloom-filter join pre-pruning: kill non-matching big-side rows BEFORE
the shuffle.

The classic 100 TB join problem: ``fact JOIN dim ON key`` where only a
small fraction of fact rows survive. The join itself is correct but the
shuffle moves EVERY fact row; a Bloom filter of the dim keys applied at
the fact scan drops the misses map-side, shrinking the exchange by the
join's true selectivity (false-positive rate ε extra rows survive to the
real join, which then discards them — results are IDENTICAL to the plain
join, guaranteed by Bloom's no-false-negative property and asserted
bit-for-bit in tests/test_bloom.py).

Spark has this natively as AQE runtime filters
(``spark.sql.optimizer.runtime.bloomFilter.enabled``, InjectRuntimeFilter
— ON by default in 4.1, probed) — but the expression form
(``bloom_filter_agg`` / ``might_contain``) is NOT registered in the
public function registry (probed: UNRESOLVED_ROUTINE in pyspark 4.1),
and the optimizer rule fires only on its own thresholds (probed
defaults: creation side ≤ 10 MB, application-side SCAN ≥ 10 GB — i.e.
never at local test scale, and never for a pre-computed/reused filter).
This operator is the explicit, composable form: build once, apply to any
number of scans, any time.

Plan shape:
- BUILD (one pass over the small side): k = ``n_hashes`` bit positions
  per key via double hashing (Kirsch-Mitzenmacher: g_i = h1 + i*h2 over
  two independent xxhash64 seeds — long overflow wraps, deterministically)
  → explode k rows → groupBy word index → BIT_OR of the per-bit masks.
  Map-side combinable; output ≤ n_bits/64 rows regardless of input size.
- The word table collects to the driver (n_bits=2^17 → 2048 longs, 16 KB
  — legitimately-small summary state, the k-means-centroid pattern) and
  is embedded as ONE literal array.
- APPLY: each big-side row recomputes its k positions and ANDs the
  literal words — pure whole-stage codegen, no join, no shuffle, no
  Python. Catalyst pushes the conjunction into the scan like any filter.

Sizing: ε ≈ (1 - e^{-kn/m})^k; the default m=2^17 bits / k=5 holds ε
under 1% to n ≈ 10⁴ distinct keys. At 100 TB scale m grows to a few MB —
beyond literal-friendly size, switch the APPLY side to a broadcast of the
word table joined on word index, or lean on AQE's InjectRuntimeFilter
(same semantics, planner-managed).

Reference: the engine-side analog of the reference pipeline's "filter
early" bronze→silver discipline (src/nhl_pipeline/ingestion/api_utils.py
fetches only requested game ids); no direct reference operator — this is
part of the beyond-reference scale surface (SURVEY §8).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_BITS_DEFAULT = 1 << 17  # 2048 longs = 16 KB literal
N_HASHES_DEFAULT = 5


def _positions(key: Column, n_hashes: int, n_bits: int) -> list[Column]:
    """k bit positions via double hashing over two xxhash64 seeds.

    The key is normalized to STRING first: xxhash64 is TYPE-sensitive
    (xxhash64(5 AS INT) ≠ xxhash64(5 AS BIGINT)), so hashing the raw
    columns would desync a build over an INT dim key from an apply over a
    BIGINT fact key and silently prune every true match. String-casting
    makes all integral widths (and equal strings) hash identically on
    both sides; every other cross-type pair ('5' ≠ '5.0', '05' ≠ '5',
    date ≠ timestamp string forms) is rejected in :func:`bloom_prejoin`.

    Both hashes are reduced mod n_bits BEFORE the linear combination:
    (h1 mod m + i·(h2 mod m)) mod m ≡ (h1 + i·h2) mod m, and the reduced
    arithmetic can't overflow a long — ANSI mode (the Spark 4 default)
    raises on wraparound instead of wrapping."""
    k = key.cast("string")
    h1 = F.pmod(F.xxhash64(k), F.lit(n_bits))
    h2 = F.pmod(F.xxhash64(k, F.lit(0x9E3779B9)), F.lit(n_bits))
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(n_bits)).cast("long")
        for i in range(n_hashes)
    ]


def _check_bits(n_bits: int) -> None:
    if n_bits <= 0 or n_bits % 64:
        raise ValueError(
            f"n_bits must be a positive multiple of 64, got {n_bits}"
            " (the word table densifies to n_bits/64 longs and the apply"
            " side re-derives n_bits as len(words)*64)"
        )


def _norm_key(df: DataFrame, key: str) -> Column:
    """Join-semantics normalization before string hashing: Spark join
    keys equate -0.0 with 0.0 (NormalizeFloatingNumbers), but their
    string forms differ ('-0.0' vs '0.0') and would desync build/apply.
    Adding +0.0 maps IEEE -0.0 to +0.0 and leaves every other value
    (including NaN, which Spark joins also equate and which strings
    uniformly as 'NaN') untouched."""
    c = F.col(key)
    if dict(df.dtypes)[key] in ("float", "double"):
        return c + F.lit(0.0)
    return c


def bloom_build(
    small: DataFrame,
    key: str,
    *,
    n_bits: int = N_BITS_DEFAULT,
    n_hashes: int = N_HASHES_DEFAULT,
) -> list[int]:
    """Dense word list (n_bits/64 longs) of the Bloom filter over
    ``small[key]`` — one map-side-combinable aggregation, then a
    driver-side densify of the ≤ n_bits/64 sparse rows."""
    _check_bits(n_bits)
    pos = F.explode(
        F.array(*_positions(_norm_key(small, key), n_hashes, n_bits))
    ).alias("bit")
    words = (
        small.select(pos)
        .select(
            (F.col("bit") / 64).cast("long").alias("w"),
            F.expr("shiftleft(1L, CAST(bit % 64 AS INT))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("word"))
        .collect()
    )
    dense = [0] * (n_bits // 64)
    for r in words:
        dense[r["w"]] = r["word"]
    return dense


def bloom_might_contain(
    words: list[int],
    key: Column,
    *,
    n_hashes: int = N_HASHES_DEFAULT,
) -> Column:
    """True iff all k bits for ``key`` are set — never false for a key
    that was in the build set (no false negatives). Float/double keys
    must be normalized the way the build side was (``_norm_key`` — the
    -0.0/0.0 string-form trap); :func:`bloom_prejoin` does this for both
    sides automatically."""
    n_bits = len(words) * 64
    lut = F.array(*[F.lit(w).cast("long") for w in words])
    # F.shiftleft takes only a literal shift — a 64-entry mask LUT keeps
    # the variable-shift lookup in plain codegen instead of expr-text.
    masks = F.array(
        *[F.lit((1 << b) - (1 << 64 if b == 63 else 0)).cast("long") for b in range(64)]
    )
    cond = None
    for p in _positions(key, n_hashes, n_bits):
        word = F.element_at(lut, (p / 64).cast("int") + 1)
        mask = F.element_at(masks, (p % 64).cast("int") + 1)
        hit = word.bitwiseAND(mask) != 0
        cond = hit if cond is None else cond & hit
    return cond


def bloom_prejoin(
    big: DataFrame,
    big_key: str,
    small: DataFrame,
    small_key: str,
    *,
    n_bits: int = N_BITS_DEFAULT,
    n_hashes: int = N_HASHES_DEFAULT,
) -> DataFrame:
    """``big`` pre-filtered by a Bloom filter of ``small[small_key]`` —
    feed this into the real join; the result is identical to joining the
    unfiltered ``big`` (false positives are discarded by the join, false
    negatives cannot occur), but the shuffle moves ~selectivity+ε of the
    rows instead of all of them.

    The identity holds for INNER and LEFT-SEMI joins only (the shapes
    where non-matching big rows vanish anyway). Do NOT feed the pruned
    frame into a join that keeps unmatched big rows — big LEFT JOIN
    small would lose every null-extended row the pre-filter removed.
    The join happens outside this function, so the restriction is
    contractual rather than asserted."""
    bt = dict(big.dtypes)[big_key]
    st = dict(small.dtypes)[small_key]
    # The filter hashes STRING forms (see _positions); a plain join instead
    # coerces under Spark's implicit-cast rules. Any cross-type pair whose
    # string forms can differ while the join's coercion would match — string
    # '05' vs bigint 5, date vs timestamp, int 5 vs double 5.0 — desyncs the
    # two and silently prunes TRUE matches. Only pairs whose string forms are
    # provably identical for equal values are safe: the same exact type, or
    # two integral widths (all render 5 as '5'). Everything else is refused.
    integral = {"tinyint", "smallint", "int", "bigint"}
    if bt != st and not (bt in integral and st in integral):
        raise ValueError(
            f"bloom_prejoin key types differ ({big_key}: {bt} vs"
            f" {small_key}: {st}); only identical types or integral-width"
            " pairs keep the hashed string forms in sync with the join's"
            " implicit cast — cast one side explicitly before pruning"
        )
    words = bloom_build(small, small_key, n_bits=n_bits, n_hashes=n_hashes)
    return big.filter(
        bloom_might_contain(words, _norm_key(big, big_key), n_hashes=n_hashes)
    )
