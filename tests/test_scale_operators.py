"""Scale-path operators: approx distinct, dedup, multimodal, intervals."""

from __future__ import annotations

from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from tests.conftest import TEST_SF_DIR


def test_approx_count_distinct_close_to_exact(spark):
    e = load_table(spark, TEST_SF_DIR, "events")
    row = e.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_drop_stop_shingles(spark):
    """Hot shingles (df > cap) vanish, n is recomputed over the survivors,
    pure-boilerplate docs drop out, and naive jaccard over the filtered
    table no longer pairs docs that share only boilerplate."""
    from nhl_data_pipeline_spark.operators.dedup import (
        drop_stop_shingles,
        exploded_distinct_shingles,
    )
    from nhl_data_pipeline_spark.operators.text import tokens

    boiler = "nav home about contact legal footer"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon " + boiler),
            (2, "alpha beta gamma delta zeta " + boiler),  # near-dup of 1
            (3, "one two three four five six seven " + boiler),
            (4, "eight nine ten eleven twelve thirteen " + boiler),
            (5, boiler),  # pure boilerplate
        ],
        "doc_id: bigint, text: string",
    )
    sh = exploded_distinct_shingles(docs, tokens(F.col("text")), 3)
    kept = drop_stop_shingles(sh, max_df=3).persist()
    # every surviving shingle has df <= 3
    assert kept.groupBy("s").count().filter(F.col("count") > 3).count() == 0
    # n matches the recomputed distinct-shingle count per doc
    bad = (
        kept.groupBy("doc_id", "n")
        .agg(F.count_distinct("s").alias("m"))
        .filter(F.col("n") != F.col("m"))
    )
    assert bad.count() == 0
    # the pure-boilerplate doc is gone
    assert kept.filter(F.col("doc_id") == 5).count() == 0
    # naive jaccard over the filtered table: only the true content pair
    a = kept.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "s")
    b = kept.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(
            F.col("c").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("c"))
            >= 0.2
        )
    )
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert got == {(1, 2)}
    kept.unpersist()


def test_dedup_against_reference_increment(spark):
    """Cross-snapshot dedup: docs whose fingerprint is already in the
    reference ledger are dropped; novel docs (and novel content reusing
    an old doc_id) survive. Idempotent: a second pass against the grown
    ledger drops everything."""
    from nhl_data_pipeline_spark.operators.dedup import (
        dedup_against_reference,
        exact_dedup_keep_min,
    )
    from nhl_data_pipeline_spark.operators.text import fingerprint

    d = load_table(spark, TEST_SF_DIR, "documents").select("doc_id", "text")
    ledger = d.filter(F.col("doc_id") < 250).select(
        fingerprint(F.col("text")).alias("fp")
    )
    incoming = d.filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 300)
    )
    kept = dedup_against_reference(incoming, ledger, fingerprint(F.col("text")))
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # 200-249 were already in the ledger; 250-299 are new — modulo the
    # corpus's planted exact duplicates, which is exactly the point:
    assert kept_ids <= set(range(250, 300))
    dropped_new = set(range(250, 300)) - kept_ids
    # any dropped "new" doc must share a fingerprint with a ledger doc
    if dropped_new:
        fps_ledger = {r["fp"] for r in ledger.distinct().collect()}
        fps_dropped = {
            r["fp"]
            for r in incoming.filter(F.col("doc_id").isin(*dropped_new))
            .select(fingerprint(F.col("text")).alias("fp"))
            .collect()
        }
        assert fps_dropped <= fps_ledger
    # grow the ledger with the increment → re-applying drops everything
    grown = ledger.unionAll(kept.select(fingerprint(F.col("text")).alias("fp")))
    again = dedup_against_reference(incoming, grown, fingerprint(F.col("text")))
    assert again.count() == 0
    # internal dedup of the increment composes on top
    internal = exact_dedup_keep_min(kept, fingerprint(F.col("text")), "doc_id")
    assert internal.count() <= max(len(kept_ids), 1)


def test_minhash_lsh_empirical_recall_vs_exact(spark):
    """The LSH banding's recall claim (1-(1-j^3)^4 ≈ 98% at j=0.9) is
    theory; this measures it: candidate pairs from the banded query must
    recover ≥90% of the exact jaccard≥0.8 pairs on the planted-duplicate
    corpus. (Precision is NOT asserted — LSH candidates are meant to feed
    the exact verifier; the two queries' own oracles already pin their
    respective outputs.)"""
    from nhl_data_pipeline_spark.plans.registry import all_queries

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in all_queries()["dedup_ngram_jaccard"].fn(spark, TEST_SF_DIR).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in all_queries()["dedup_minhash_lsh"].fn(spark, TEST_SF_DIR).collect()
    }
    assert len(exact) > 0
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, (recall, len(exact), len(lsh))


def test_winnowing_guarantee_and_density(spark):
    from nhl_data_pipeline_spark.operators.dedup import (
        exploded_distinct_shingles,
        winnowing_fingerprints,
    )
    from nhl_data_pipeline_spark.operators.text import tokens

    base = "w%d " * 30 % tuple(range(30))
    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base + shared),
            (2, "x y z " + shared + " p q r"),  # shifted copy of the run
            (3, "completely different text with no common runs at all here"),
        ],
        "doc_id: bigint, text: string",
    )
    k, w = 5, 4
    fps = winnowing_fingerprints(docs, tokens(F.col("text")), k=k, window=w)
    by_doc = {
        r.doc_id: set(r.f)
        for r in fps.groupBy("doc_id").agg(F.collect_set("fp").alias("f")).collect()
    }
    # Shared run has 12 tokens >= k + w - 1 = 8 -> must share a fingerprint
    # despite different offsets (shift robustness).
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])
    # Winnowing selects a subset of the full k-gram hash set (~2/(w+1)).
    full = exploded_distinct_shingles(
        docs.filter(F.col("doc_id") == 1), tokens(F.col("text")), k,
        hash_shingles=True,
    )
    assert len(by_doc[1]) < full.count()


def test_multimodal_decode_image_raw_ppm_bmp(spark):
    """The real (dependency-free) decode path: the SAME pixels encoded as
    P6 PPM and as padded bottom-up 24-bit BMP must decode to identical
    canonical tensors (pixel_md5 + exact per-channel means), and dims/
    means must match a direct numpy reference. Width 5 forces BMP row
    padding (stride 16 over 15 payload bytes); the PPM header carries a
    comment line to exercise the tokenizer."""
    import hashlib
    import struct

    import numpy as np

    from nhl_data_pipeline_spark.operators.multimodal import (
        decode_image_raw,
    )

    h, w = 3, 5
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)  # RGB top-down

    ppm = b"P6\n# synthetic\n" + f"{w} {h}\n255\n".encode() + px.tobytes()

    stride = ((w * 3 + 3) // 4) * 4
    rows = b""
    for r in range(h - 1, -1, -1):  # bottom-up
        row = px[r, :, ::-1].tobytes()  # BGR
        rows += row + b"\x00" * (stride - len(row))
    off = 14 + 40
    bmp = (
        b"BM"
        + struct.pack("<IHHI", off + len(rows), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 0, 0, 0, 0)
        + rows
    )

    df = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, bytearray(bmp))],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r for r in decode_image_raw(df).collect()}
    assert got[1].format == "ppm" and got[2].format == "bmp"
    want_mean = [float(px[:, :, c].sum(dtype="int64")) / (h * w) for c in range(3)]
    want_md5 = hashlib.md5(px.tobytes()).hexdigest()
    for r in got.values():
        assert (r.width, r.height, r.channels) == (w, h, 3)
        assert list(r.mean_rgb) == want_mean
        assert r.pixel_md5 == want_md5

    # Unsupported magic (compressed formats included) raises.
    import pytest as _pt

    bad = spark.createDataFrame(
        [(3, bytearray(b"\x89PNG\r\n"))], "doc_id long, payload binary"
    )
    with _pt.raises(Exception, match="unsupported image magic"):
        decode_image_raw(bad).collect()


def test_multimodal_decode_audio_raw_wav(spark):
    """The real WAV PCM-16 decode path: de-interleave, signedness,
    RIFF chunk walking, and the canonical tensor md5, all against a
    direct numpy reference. Samples include negatives (the ASCII-built
    oracle payloads can never exercise the sign bit) and the second
    payload carries a LIST chunk with an ODD size before `data` (real
    writers pad chunks to even offsets)."""
    import hashlib
    import struct

    import numpy as np

    from nhl_data_pipeline_spark.operators.multimodal import (
        decode_audio_raw,
    )

    rng = np.random.RandomState(11)
    frames = rng.randint(-32768, 32768, size=(7, 2)).astype("<i2")
    data = frames.tobytes()

    def wav(extra_chunks: bytes) -> bytes:
        fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
        body = b"WAVE" + fmt + extra_chunks + b"data" + struct.pack(
            "<I", len(data)
        ) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    odd_list = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # padded
    df = spark.createDataFrame(
        [(1, bytearray(wav(b""))), (2, bytearray(wav(odd_list)))],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r for r in decode_audio_raw(df).collect()}
    want_mean = [float(frames[:, c].sum(dtype="int64")) / 7 for c in range(2)]
    want_md5 = hashlib.md5(data).hexdigest()
    for r in got.values():
        assert (r.format, r.n_channels, r.sample_rate, r.n_frames) == (
            "wav", 2, 8000, 7,
        )
        assert list(r.mean_amp) == want_mean
        assert r.sample_md5 == want_md5
    assert any(v < 0 for v in want_mean) or frames.min() < 0  # sign exercised

    import pytest as _pt

    bad = spark.createDataFrame(
        [(3, bytearray(b"OggS\x00\x02"))], "doc_id long, payload binary"
    )
    with _pt.raises(Exception, match="unsupported audio magic"):
        decode_audio_raw(bad).collect()
    flac_bits = bytearray(wav(b"").replace(
        struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16),
        struct.pack("<IHHIIHH", 16, 1, 2, 8000, 16000, 2, 8),
    ))
    with _pt.raises(Exception, match="unsupported"):
        decode_audio_raw(
            spark.createDataFrame(
                [(4, flac_bits)], "doc_id long, payload binary"
            )
        ).collect()

    # Malformed fmt chunks keep the ValueError contract: neither a
    # 0-channel fmt (ZeroDivisionError) nor a truncated one (struct.error)
    # may leak another exception type. Driver-side call — the contract is
    # the decoder's, not the Arrow stage's.
    from nhl_data_pipeline_spark.operators.multimodal import _decode_wav

    def wav_fmt(fmt_body: bytes) -> bytes:
        body = (
            b"WAVE"
            + b"fmt "
            + struct.pack("<I", len(fmt_body))
            + fmt_body
            + b"data"
            + struct.pack("<I", len(data))
            + data
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    with _pt.raises(ValueError, match="0 channels"):
        _decode_wav(wav_fmt(struct.pack("<HHIIHH", 1, 0, 8000, 0, 4, 16)))
    with _pt.raises(ValueError, match="truncated"):
        _decode_wav(wav_fmt(struct.pack("<HH", 1, 2)))


def test_interval_join_bucketed_equals_naive(spark):
    """Bin-join form == theta-join form on adversarial interval shapes:
    boundary-exact events, zero-length and inverted intervals, windows
    spanning many buckets, overlapping windows, sub-bucket windows."""
    import datetime as dt
    import random as _r

    from nhl_data_pipeline_spark.operators.ranges import (
        interval_join_bucketed,
        interval_join_naive,
    )

    t0 = dt.datetime(2024, 1, 1)
    rng = _r.Random(3)
    events = [
        (i, t0 + dt.timedelta(seconds=rng.randrange(0, 30 * 86400)))
        for i in range(400)
    ]
    # boundary-exact points for the hand-built windows below
    events += [
        (1000, t0 + dt.timedelta(hours=5)),          # == a start (inclusive)
        (1001, t0 + dt.timedelta(hours=8)),          # == an end (exclusive)
        (1002, t0 + dt.timedelta(hours=7, minutes=59, seconds=59)),
    ]
    intervals = [
        (0, t0 + dt.timedelta(hours=5), t0 + dt.timedelta(hours=8)),       # 3 buckets
        (1, t0 + dt.timedelta(hours=6, minutes=10), t0 + dt.timedelta(hours=6, minutes=20)),  # sub-bucket
        (2, t0 + dt.timedelta(days=2), t0 + dt.timedelta(days=9)),          # many buckets
        (3, t0 + dt.timedelta(hours=7), t0 + dt.timedelta(hours=7)),        # zero-length
        (4, t0 + dt.timedelta(hours=9), t0 + dt.timedelta(hours=3)),        # inverted
        (5, t0 + dt.timedelta(hours=4), t0 + dt.timedelta(hours=6)),        # overlaps #0
        (6, t0 + dt.timedelta(hours=6), t0 + dt.timedelta(hours=7)),        # exact bucket
    ]
    for i in range(40):  # random windows, seconds-granular edges
        s = t0 + dt.timedelta(seconds=rng.randrange(0, 28 * 86400))
        e = s + dt.timedelta(seconds=rng.randrange(1, 3 * 86400))
        intervals.append((100 + i, s, e))
    pts = spark.createDataFrame(events, "event_id long, ts timestamp_ntz")
    ivs = spark.createDataFrame(
        intervals, "window_id long, start_ts timestamp_ntz, end_ts timestamp_ntz"
    )
    key = lambda r: (r["event_id"], r["window_id"])  # noqa: E731
    naive = {key(r) for r in interval_join_naive(pts, ivs).collect()}
    bucketed = {
        key(r) for r in interval_join_bucketed(pts, ivs, bucket="hour").collect()
    }
    assert naive == bucketed and len(naive) > 50
    # day-width buckets must agree too (different fan-out, same rows)
    daily = {key(r) for r in interval_join_bucketed(pts, ivs, bucket="day").collect()}
    assert daily == naive
    # boundary semantics: start inclusive, end exclusive
    assert (1000, 0) in naive and (1002, 0) in naive and (1001, 0) not in naive
    assert all(w != 3 and w != 4 for _, w in naive)


def test_interval_join_bucketed_plan_is_hash_join(spark):
    """The whole point of the bin join: no nested loop in the plan, even
    with broadcasting disabled (the regime where intervals are too big to
    broadcast and the naive form would be O(P*I))."""
    import datetime as dt

    from nhl_data_pipeline_spark.operators.ranges import interval_join_bucketed
    from tests.test_plan_shape import plan_str

    t0 = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame([(1, t0)], "event_id long, ts timestamp_ntz")
    ivs = spark.createDataFrame(
        [(1, t0, t0 + dt.timedelta(hours=2))],
        "window_id long, start_ts timestamp_ntz, end_ts timestamp_ntz",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_str(interval_join_bucketed(pts, ivs))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "NestedLoop" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_corpus_report_matches_duckdb_twin(spark, duck):
    """The one-scan dataset datasheet: every cell (counts, token totals,
    exact histogram bins, dup rate) matches the DuckDB twin bit-for-bit,
    and internal invariants hold (histogram partitions n_docs; dup_docs
    consistent with unique fingerprints)."""
    from nhl_data_pipeline_spark.operators.report import (
        corpus_report,
        corpus_report_sql,
    )

    docs = load_table(spark, TEST_SF_DIR, "documents")
    rows = corpus_report(docs).collect()
    got = {(r["source"], r["lang"]): tuple(r)[2:] for r in rows}
    want = {(r[0], r[1]): tuple(r[2:]) for r in duck.sql(corpus_report_sql()).fetchall()}
    assert got == want and len(got) > 1
    for r in rows:
        hist = [r[c] for c in r.asDict() if c.startswith("docs_")]
        assert sum(hist) == r["n_docs"]
        assert r["n_unique_fps"] <= r["n_docs"]
        # dup_docs counts members of multi-doc fingerprint groups
        assert r["dup_docs"] != 1  # impossible: groups have >= 2 members
        assert r["dup_docs"] <= r["n_docs"]


def test_group_quantiles_exact_and_twin(spark, duck):
    """Exact per-group quantiles via the compressed-distribution path:
    cells match the DuckDB twin bit-for-bit AND a brute-force Python
    sort-and-index on the collected values (lower discrete quantile)."""
    import math

    from nhl_data_pipeline_spark.operators.report import (
        QUANTILES,
        group_quantiles,
        group_quantiles_sql,
    )

    docs = load_table(spark, TEST_SF_DIR, "documents")
    rows = group_quantiles(docs).collect()
    got = {(r["source"], r["lang"]): tuple(r)[2:] for r in rows}
    want = {
        (r[0], r[1]): tuple(r[2:])
        for r in duck.sql(group_quantiles_sql()).fetchall()
    }
    assert got == want and len(got) > 1

    vals = {}
    for r in docs.selectExpr(
        "source", "lang", "size(split(text, '\\\\s+')) AS v"
    ).collect():
        vals.setdefault((r["source"], r["lang"]), []).append(r["v"])
    for key, qs in got.items():
        s = sorted(vals[key])
        for q, got_v in zip(QUANTILES, qs):
            assert got_v == s[math.ceil(q * len(s)) - 1], (key, q)


def test_range_interval_window_matches_duckdb(spark, duck):
    """Value-RANGE frame (30-day rolling order totals): bit parity with
    the DuckDB INTERVAL-frame twin, plus the ROWS-frame contrast (bursty
    customers make the two frames genuinely differ somewhere)."""
    from nhl_data_pipeline_spark.plans.q_windows import (
        RANGE_INTERVAL_WINDOW_SQL,
        range_interval_window,
    )

    got = {
        (r["o_custkey"], r["o_orderkey"]): (r["sum_30d"], r["n_30d"])
        for r in range_interval_window(spark, TEST_SF_DIR).collect()
    }
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in duck.sql(RANGE_INTERVAL_WINDOW_SQL).fetchall()
    }
    assert got == want and len(got) > 100
    assert any(n > 1 for _, n in got.values())  # frames actually overlap


def test_neardup_ledger_incremental_contract(spark):
    """Incremental MinHash-LSH dedup (neardup_against_ledger): flagged =
    exactly the incoming docs with a band-key collision against the
    ledger; kept+flagged partition the increment; new_entries carry only
    kept docs' bands; idempotence — the same batch re-run against the
    grown ledger flags everything."""
    from nhl_data_pipeline_spark.operators.dedup import (
        lsh_band_table,
        neardup_against_ledger,
    )

    d = load_table(spark, TEST_SF_DIR, "documents").select("doc_id", "text")
    batch1 = d.filter(F.col("doc_id") < 250)
    batch2 = d.filter(F.col("doc_id") >= 250)
    ledger = lsh_band_table(batch1).select(
        "band_idx", "band_key", F.col("doc_id").alias("owner_id")
    ).persist()

    kept, flagged, new_entries = neardup_against_ledger(batch2, ledger)
    kept_ids = {r["doc_id"] for r in kept.collect()}
    flagged_rows = {r["doc_id"]: set(r["candidate_owners"]) for r in flagged.collect()}

    # partition of the increment
    n2 = batch2.count()
    assert len(kept_ids) + len(flagged_rows) == n2
    assert not (kept_ids & set(flagged_rows))

    # the flag set is EXACTLY the band-key intersection, owners included
    bt2 = lsh_band_table(batch2)
    want = {
        r["doc_id"]: set(r["owners"])
        for r in bt2.join(ledger, ["band_idx", "band_key"])
        .groupBy("doc_id")
        .agg(F.collect_set("owner_id").alias("owners"))
        .collect()
    }
    assert flagged_rows == want
    assert len(flagged_rows) > 0  # sf documents plant cross-half near-dups

    # new_entries: only kept docs, as owners
    entry_owners = {r["owner_id"] for r in new_entries.select("owner_id").distinct().collect()}
    assert entry_owners <= kept_ids

    # idempotence: same batch vs grown ledger flags every doc
    grown = ledger.unionByName(new_entries).persist()
    kept2, flagged2, _ = neardup_against_ledger(batch2, grown)
    assert kept2.count() == 0
    assert flagged2.count() == n2
    ledger.unpersist()
    grown.unpersist()


def test_neardup_ledger_catches_planted_cross_batch_neardup(spark):
    """A near-identical copy arriving in a later increment is flagged with
    the original as a candidate owner (the cross-snapshot recall case the
    exact-fingerprint ledger misses by construction)."""
    from nhl_data_pipeline_spark.operators.dedup import (
        lsh_band_table,
        neardup_against_ledger,
    )
    from nhl_data_pipeline_spark.operators.text import fingerprint

    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(59)) + " tokX"  # 1-token edit
    b1 = spark.createDataFrame([(1, base), (2, "totally different words here")],
                               "doc_id bigint, text string")
    b2 = spark.createDataFrame([(3, near), (4, "another unrelated document")],
                               "doc_id bigint, text string")
    # exact fingerprints differ -> the exact ledger would NOT catch doc 3
    fps = {r[0] for r in b1.select(fingerprint(F.col("text"))).collect()}
    assert b2.filter(fingerprint(F.col("text")).isin(fps)).count() == 0

    ledger = lsh_band_table(b1).select(
        "band_idx", "band_key", F.col("doc_id").alias("owner_id")
    )
    kept, flagged, _ = neardup_against_ledger(b2, ledger)
    rows = {r["doc_id"]: set(r["candidate_owners"]) for r in flagged.collect()}
    assert 3 in rows and 1 in rows[3]
    assert {r["doc_id"] for r in kept.collect()} == {4}


def test_neardup_ledger_short_doc_fallback(spark):
    """Docs below the shingle width carry a synthetic exact-fingerprint
    band (band_idx=0), so they enter the ledger and exact re-arrivals are
    flagged — without it short docs would be re-admitted forever and the
    idempotence contract would silently break."""
    from nhl_data_pipeline_spark.operators.dedup import (
        lsh_band_table,
        neardup_against_ledger,
    )

    b1 = spark.createDataFrame(
        [(1, "hello world"), (2, " ".join(f"w{i}" for i in range(20)))],
        "doc_id bigint, text string",
    )
    bt1 = lsh_band_table(b1)
    # doc 1 (<3 tokens) got exactly one synthetic band at idx 0
    rows1 = {(r["doc_id"], r["band_idx"]) for r in bt1.collect()}
    assert (1, 0) in rows1
    assert sum(1 for d, _ in rows1 if d == 1) == 1

    ledger = bt1.select("band_idx", "band_key", F.col("doc_id").alias("owner_id"))
    b2 = spark.createDataFrame(
        [(3, "hello world"), (4, "hello there")],
        "doc_id bigint, text string",
    )
    kept, flagged, entries = neardup_against_ledger(b2, ledger)
    assert {r["doc_id"] for r in flagged.collect()} == {3}  # exact short dup
    assert {r["doc_id"] for r in kept.collect()} == {4}  # different short doc
    # the kept short doc enters the ledger too (idempotence holds for it)
    assert entries.filter("band_idx = 0").count() == 1


def test_neardup_ledger_null_text_idempotent(spark):
    """A NULL-text doc must get a JOINABLE fallback band key (md5 of a
    NULL would never equi-match the ledger and the doc would be
    re-admitted every increment): re-running the same batch against the
    grown ledger flags it like any other short doc."""
    from nhl_data_pipeline_spark.operators.dedup import (
        lsh_band_table,
        neardup_against_ledger,
    )

    batch = spark.createDataFrame(
        [(1, None), (2, "a b"), (3, " ".join(f"t{i}" for i in range(40)))],
        "doc_id: bigint, text: string",
    )
    ledger = lsh_band_table(batch).select(
        "band_idx", "band_key", F.col("doc_id").alias("owner_id")
    )
    assert (
        lsh_band_table(batch).filter(F.col("band_key").isNull()).count() == 0
    )
    kept2, flagged2, _ = neardup_against_ledger(batch, ledger)
    assert kept2.count() == 0
    assert {r["doc_id"] for r in flagged2.collect()} == {1, 2, 3}


def test_cluster_conf_sizing_rules():
    import pytest as _pytest

    from nhl_data_pipeline_spark.session import cluster_conf

    # small data: parallelism floor (2x cores) wins
    c = cluster_conf(total_cores=400, dataset_bytes=10 << 30)
    assert c["spark.sql.shuffle.partitions"] == "800"
    # 100 TB: the 128 MiB working-set rule wins, with NO silent cap —
    # capping would recreate the oversized-partition spill regime
    c = cluster_conf(total_cores=4000, dataset_bytes=100 * (1 << 40))
    assert int(c["spark.sql.shuffle.partitions"]) == (
        100 * (1 << 40) // (128 << 20)
    )
    # the advisory size is NOT touched fleet-wide
    assert "spark.sql.adaptive.advisoryPartitionSizeInBytes" not in c
    # past 1M partitions the builder refuses instead of silently capping
    with _pytest.raises(ValueError, match="shard the job"):
        cluster_conf(total_cores=4000, dataset_bytes=1 << 50)
    with _pytest.raises(ValueError):
        cluster_conf(total_cores=0, dataset_bytes=1)
