"""Streaming (watermark/window/dedup via availableNow) + source operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.sources import lake
from nhl_data_pipeline_spark.streaming import events_stream as es
from tests.conftest import TEST_SF_DIR


def test_streaming_tumbling_counts_match_batch(spark):
    stream = es.read_events_stream(spark, TEST_SF_DIR)
    got = es.run_available_now_complete(spark, es.tumbling_counts(stream))
    batch = (
        load_table(spark, TEST_SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got_set = {
        (r["window_start"], r["event_type"], r["n"]) for r in got.collect()
    }
    batch_set = {
        (r["w"]["start"], r["event_type"], r["n"]) for r in batch.collect()
    }
    assert got_set == batch_set
    assert len(got_set) > 0


def test_read_events_stream_ts_dtype_dispatch(spark, tmp_path):
    """Regression: read_events_stream must handle BOTH
    physical ts encodings — timestamp[us] parquet (what the test lake
    actually stores; Spark reads it as TIMESTAMP_NTZ) and raw int64
    nanoseconds (what spark.sql.legacy.parquet.nanosAsLong surfaces).
    Applying the ns→µs conversion unconditionally blows up with
    DATATYPE_MISMATCH on the micros-typed lake."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros_dir = tmp_path / "micros"
    nanos_dir = tmp_path / "nanos"
    micros_dir.mkdir()
    nanos_dir.mkdir()
    base_us = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z in µs
    rows = {
        "event_id": [1, 2, 3],
        "user_id": [10, 20, 30],
        "event_type": ["a", "b", "a"],
        "value": [1.0, 2.0, 3.0],
        "props": ["{}", "{}", "{}"],
    }
    pq.write_table(
        pa.table({**rows, "ts": pa.array([base_us + i * 3_600_000_000 for i in range(3)],
                                         pa.timestamp("us"))}),
        str(micros_dir / "events.parquet"),
    )
    pq.write_table(
        pa.table({**rows, "ts": pa.array([(base_us + i * 3_600_000_000) * 1000
                                          for i in range(3)], pa.int64())}),
        str(nanos_dir / "events.parquet"),
    )

    outs = []
    for d in (micros_dir, nanos_dir):
        stream = es.read_events_stream(spark, str(d))
        assert str(stream.schema["ts"].dataType) == "TimestampType()"
        got = es.run_available_now(spark, stream)
        outs.append({(r["event_id"], r["ts"]) for r in got.collect()})
    # same wall-clock instants regardless of physical encoding
    assert outs[0] == outs[1] and len(outs[0]) == 3


def test_streaming_dedup(spark):
    stream = es.read_events_stream(spark, TEST_SF_DIR)
    out = es.run_available_now(spark, es.dedup_stream(stream))
    n_batch = load_table(spark, TEST_SF_DIR, "events").select("event_id").distinct().count()
    assert out.count() == n_batch


def test_sliding_window_matches_batch_twin(spark):
    """availableNow sliding-window aggregate must equal the identical
    F.window aggregate computed in batch over the same events — row-for-row
    (window bounds, counts, and decimal-exact averages)."""
    stream = es.read_events_stream(spark, TEST_SF_DIR)
    out = es.run_available_now_complete(spark, es.sliding_user_activity(stream))
    assert out.count() > 0
    # every 2h-window/1h-slide row covers its users' events
    assert out.filter("n_events <= 0").count() == 0

    from nhl_data_pipeline_spark.functions.scalars import dec

    ev = load_table(spark, TEST_SF_DIR, "events")
    batch = (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(dec("value")).cast("string").cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
            "avg_value",
        )
    )
    key = lambda r: (r["window_start"], r["user_id"], r["n_events"])  # noqa: E731
    got = {key(r): r["avg_value"] for r in out.collect()}
    want = {key(r): r["avg_value"] for r in batch.collect()}
    # decimal-exact averages: bit equality, no tolerance needed
    assert got == want


def test_stream_static_enrichment_matches_batch(spark):
    stream = es.read_events_stream(spark, TEST_SF_DIR)
    got = es.run_available_now(
        spark, es.enrich_with_customer_dim(spark, stream, TEST_SF_DIR)
    )
    ev = load_table(spark, TEST_SF_DIR, "events")
    dim = load_table(spark, TEST_SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_name").alias("user_name")
    )
    batch = ev.join(dim, "user_id", "left")
    assert got.count() == ev.count() == batch.count()
    # every streamed row carries the dim attributes (all user_ids resolve)
    assert got.filter("user_name IS NULL").count() == 0
    got_names = {(r["event_id"], r["user_name"]) for r in got.collect()}
    batch_names = {(r["event_id"], r["user_name"]) for r in batch.collect()}
    assert got_names == batch_names


def test_stream_stream_join_matches_batch(spark):
    """The view→purchase attribution join run as a REAL stream-stream join
    (both sides stateful, watermark-bounded) must equal the identical
    time-banded join computed in batch."""
    stream = es.read_events_stream(spark, TEST_SF_DIR)
    got = es.run_available_now(spark, es.view_to_purchase_funnel(stream))

    ev = load_table(spark, TEST_SF_DIR, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = views.join(
        buys,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 hour")),
    ).select("user_id", "view_id", "purchase_id", "view_ts", "purchase_ts")

    key = lambda r: (  # noqa: E731
        r["user_id"], r["view_id"], r["purchase_id"], r["view_ts"], r["purchase_ts"]
    )
    got_set = {key(r) for r in got.collect()}
    want_set = {key(r) for r in batch.collect()}
    assert got_set == want_set
    assert len(got_set) > 0


def test_streaming_foreachbatch_upsert(spark, tmp_path):
    target = str(tmp_path / "events_latest")
    stream = es.read_events_stream(spark, TEST_SF_DIR)
    es.upsert_stream(spark, stream, target, "event_id", ("ts",))
    got = spark.read.parquet(target)
    ev = load_table(spark, TEST_SF_DIR, "events")
    assert got.count() == ev.select("event_id").distinct().count()
    # re-running over the same input is idempotent: checkpoint skips
    # processed files, table unchanged
    es.upsert_stream(spark, stream, target, "event_id", ("ts",))
    assert spark.read.parquet(target).count() == got.count()


def test_upsert_stream_checkpoint_resume(spark, tmp_path, monkeypatch):
    """Restarting the upsert query against a grown input dir must process
    ONLY the new files (checkpoint resume), update existing keys
    latest-wins, and add the new ones — the exactly-once story across
    restarts, not just within one run."""
    import datetime as dt

    from nhl_data_pipeline_spark.sources import lake

    src, target = str(tmp_path / "src"), str(tmp_path / "tgt")
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    mk = lambda ids, ts, v: spark.createDataFrame(  # noqa: E731
        [(i, ts, v) for i in ids],
        "event_id: bigint, ts: timestamp, value: double",
    )
    mk(range(100), t0, 1.0).coalesce(1).write.mode("append").parquet(src)

    processed: list[int] = []
    real = lake.upsert_latest

    def spying(spark_, path, batch_df, key, order_cols):
        processed.append(batch_df.count())
        return real(spark_, path, batch_df, key, order_cols)

    monkeypatch.setattr(lake, "upsert_latest", spying)

    def run():
        stream = spark.readStream.schema(
            "event_id bigint, ts timestamp, value double"
        ).parquet(src)
        es.upsert_stream(spark, stream, target, "event_id", ("ts",))

    run()
    assert sum(processed) == 100
    assert spark.read.parquet(target).count() == 100

    # grow the input: 50-149 re-delivered with a LATER ts and new value
    mk(range(50, 150), t1, 2.0).coalesce(1).write.mode("append").parquet(src)
    processed.clear()
    run()
    assert sum(processed) == 100  # only the NEW file's rows, not 200
    got = {
        r["event_id"]: (r["value"], r["ts"])
        for r in spark.read.parquet(target).collect()
    }
    assert len(got) == 150  # no dupes
    assert all(got[i] == (1.0, t0) for i in range(50))  # untouched
    assert all(got[i] == (2.0, t1) for i in range(50, 150))  # latest wins


def test_upsert_latest(spark, tmp_path):
    path = str(tmp_path / "tbl")
    day1 = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-01", "b")],
        "id long, snap string, val string",
    )
    lake.upsert_latest(spark, path, day1, "id", ("snap",))
    day2 = spark.createDataFrame(
        [(2, "2024-01-02", "b2"), (3, "2024-01-02", "c")],
        "id long, snap string, val string",
    )
    out = lake.upsert_latest(spark, path, day2, "id", ("snap",))
    got = {(r["id"], r["val"]) for r in out.collect()}
    assert got == {(1, "a"), (2, "b2"), (3, "c")}
    # idempotent re-apply
    out2 = lake.upsert_latest(spark, path, day2, "id", ("snap",))
    assert {(r["id"], r["val"]) for r in out2.collect()} == got


def test_upsert_latest_partition_scoped(spark, tmp_path):
    """Partition-scoped upsert rewrites ONLY affected partitions: untouched
    partition directories keep their files byte-for-byte (same inode/mtime),
    and a key whose latest row moves partition is removed from its old one."""
    import os

    path = str(tmp_path / "ptbl")
    base = spark.createDataFrame(
        [
            (1, "2024-01-01", "d1", "a"),
            (2, "2024-01-01", "d1", "b"),
            (3, "2024-01-01", "d2", "c"),
            (4, "2024-01-01", "d3", "d"),
        ],
        "id long, snap string, day string, val string",
    )
    lake.upsert_latest(spark, path, base, "id", ("snap",), partition_col="day")

    def files(part):
        d = os.path.join(path, f"day={part}")
        return {
            f: (os.stat(os.path.join(d, f)).st_ino, os.stat(os.path.join(d, f)).st_mtime_ns)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    d3_before = files("d3")

    # id=2 updated in place (d1); id=3 MOVES from d2 to d1; d3 untouched.
    upd = spark.createDataFrame(
        [(2, "2024-01-02", "d1", "b2"), (3, "2024-01-02", "d1", "c2")],
        "id long, snap string, day string, val string",
    )
    out = lake.upsert_latest(spark, path, upd, "id", ("snap",), partition_col="day")
    got = {(r["id"], r["day"], r["val"]) for r in out.collect()}
    assert got == {
        (1, "d1", "a"),
        (2, "d1", "b2"),
        (3, "d1", "c2"),
        (4, "d3", "d"),
    }
    # old-partition copy of the moved key is gone (d2 was rewritten empty)
    assert out.filter("day = 'd2'").count() == 0
    # untouched partition kept the exact same files
    assert files("d3") == d3_before


def test_upsert_latest_tie_determinism(spark, tmp_path):
    """order_cols ties resolve deterministically (row-hash tiebreak): the
    same inputs always keep the same survivor."""
    path1, path2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    rows = spark.createDataFrame(
        [(1, "2024-01-01", "x"), (1, "2024-01-01", "y")],
        "id long, snap string, val string",
    )
    a = lake.upsert_latest(spark, path1, rows, "id", ("snap",)).collect()
    b = lake.upsert_latest(spark, path2, rows, "id", ("snap",)).collect()
    assert len(a) == len(b) == 1
    assert a[0]["val"] == b[0]["val"]


def test_streaming_checkpoint_recovery(spark, tmp_path):
    """Exactly-once across a restart: a second availableNow run over the
    SAME checkpoint must process only files that arrived after the first
    run — no reprocessing (file-source offsets) and no lost rows."""
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    events = load_table(spark, TEST_SF_DIR, "events")
    e1 = events.filter(F.col("user_id") % 2 == 0)
    e2 = events.filter(F.col("user_id") % 2 == 1)
    n1, n2 = e1.count(), e2.count()
    e1.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(sink).count() == n1
    e2.coalesce(1).write.mode("append").parquet(src)
    run_once()  # "restart": fresh query, same checkpoint
    out = spark.read.parquet(sink)
    assert out.count() == n1 + n2
    # No duplicates: every event_id exactly once.
    assert out.select("event_id").distinct().count() == n1 + n2
