"""Streaming↔batch equivalence as an oracle-checked registered query.

The reference handles late/updated data in batch (re-snapshot + W1 dedup,
SURVEY §2.10); the streaming module is its Structured Streaming analog.
Each query here EXECUTES one streaming plan (readStream → watermark →
stateful operator → sink, ``trigger(availableNow=True)``) and returns the
sink contents as a batch DataFrame, so the DuckDB oracle hash-compares a
real streaming run against plain batch SQL — the strongest form of the
streaming↔batch equivalence the pytest suite asserts locally.

Determinism notes (why this can be hash-exact):
- session timezone is pinned UTC and windows are epoch-aligned, so
  window bounds are pure integer arithmetic on epoch seconds;
- sums use the decimal-exact idiom — micro-batch accumulation order
  cannot perturb the float result;
- the watermark is set far wider than the data's time span, so no input
  row can be dropped as late regardless of how availableNow splits the
  input into micro-batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.plans.registry import query
from nhl_data_pipeline_spark.streaming import events_stream as es


_HOUR_FLOOR = "CAST(floor(epoch(ts) / 3600) AS BIGINT)"
_EPOCH = "TIMESTAMP '1970-01-01 00:00:00'"
_EVENT_COLS = ("event_id", "user_id", "ts", "event_type", "value")


@query(
    "streaming_sessionize",
    covers="§2.10-streaming-stateful",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                              IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER (
                                 PARTITION BY user_id ORDER BY ts)) > 3600
                        THEN 1 ELSE 0 END AS new_s
            FROM events
        ),
        g AS (
            SELECT user_id, ts,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM ordered
        ),
        sess AS (
            SELECT user_id, sid, min(ts) AS session_start,
                   max(ts) AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM g GROUP BY 1, 2
        )
        SELECT user_id, session_start, session_end, n_events
        FROM sess
        WHERE sid < (SELECT max(sid) FROM sess s2
                     WHERE s2.user_id = sess.user_id)
    """,
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization EXECUTED BY THE STREAMING ENGINE
    (applyInPandasWithState, per-user state across micro-batches,
    ``availableNow``) vs the batch gap-sessionization SQL (lag → gap flag
    → cumulative-sum session ids) — the one operator family with
    nontrivial custom state logic.

    The stream emits CLOSED sessions only (a user's final session stays in
    state when the input is exhausted), so the oracle excludes each user's
    last session. Determinism: the whole events file arrives in one
    micro-batch under availableNow (single parquet file), so per-user
    event order inside the state function is total; on a real unbounded
    stream, per-key ordered replay (or event-time sessionization with a
    watermark) is required — see streaming/sessionize.py for the
    ProcessingTimeTimeout state-eviction variant (wall-clock-dependent by
    nature, pytest-verified instead).
    """
    from nhl_data_pipeline_spark.streaming import sessionize as sz

    stream = es.read_events_stream(spark, sf_dir).select("user_id", "ts")
    return es.run_available_now(spark, sz.sessionize(stream, gap_seconds=3600))


@query(
    "streaming_tumbling_counts",
    covers="§2.10-streaming,A1",
    oracle=f"""
        SELECT window_start, window_end, event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                   AS total_value
        FROM (
            SELECT {_EPOCH} + {_HOUR_FLOOR} * INTERVAL '1 hour' AS window_start,
                   {_EPOCH} + ({_HOUR_FLOOR} + 1) * INTERVAL '1 hour' AS window_end,
                   event_type, value
            FROM events
        )
        GROUP BY window_start, window_end, event_type
    """,
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour per-type counts through the stateful streaming
    aggregation — the streaming twin of the reference's scheduled batch
    re-aggregation (SURVEY §2.10, Airflow cron); `availableNow` is exactly
    the scheduled-micro-batch execution mode. At scale it shuffles on
    (window, event_type) with partial aggregation per micro-batch; state
    size is bounded by the watermark horizon."""
    agg = es.tumbling_counts(
        es.read_events_stream(spark, sf_dir), window="1 hour", watermark="3650 days"
    )
    return es.run_available_now_complete(spark, agg)


@query(
    "streaming_sliding_activity",
    covers="§2.10-streaming,W7",
    oracle=f"""
        SELECT user_id, ws AS window_start,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR)
                    AS DOUBLE) / COUNT(*) AS avg_value
        FROM (
            SELECT user_id, value,
                   unnest([
                       {_EPOCH} + {_HOUR_FLOOR} * INTERVAL '1 hour',
                       {_EPOCH} + ({_HOUR_FLOOR} - 1) * INTERVAL '1 hour'
                   ]) AS ws
            FROM events
        )
        GROUP BY user_id, ws
    """,
)
def streaming_sliding_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding hourly per user — each event lands in two
    windows (the oracle replays that as an explicit 2-window unnest); the
    average is the decimal-exact SUM/COUNT idiom so micro-batch
    accumulation order can't perturb the hash."""
    sld = es.sliding_user_activity(
        es.read_events_stream(spark, sf_dir),
        window="2 hours",
        slide="1 hour",
        watermark="3650 days",
    )
    return es.run_available_now_complete(spark, sld)


@query(
    "streaming_funnel_join",
    covers="§2.10-streaming-stateful",
    oracle="""
        SELECT v.user_id, v.view_id, p.purchase_id, v.view_ts, p.purchase_ts
        FROM (SELECT user_id, event_id AS view_id, ts AS view_ts
              FROM events WHERE event_type = 'view') v
        JOIN (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
              FROM events WHERE event_type = 'purchase') p
          ON v.user_id = p.user_id
         AND p.purchase_ts >= v.view_ts
         AND p.purchase_ts <= v.view_ts + INTERVAL '1 hour'
    """,
)
def streaming_funnel_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join (views ⋈ purchases within a 1-hour
    attribution band, both sides watermarked) — the join class whose
    state Structured Streaming bounds by watermark + band width;
    inner-join matches emit immediately, so availableNow output equals
    the batch theta join the oracle runs."""
    fun = es.view_to_purchase_funnel(
        es.read_events_stream(spark, sf_dir),
        attribution_window="1 hour",
        watermark="3650 days",
    )
    return es.run_available_now(spark, fun)


@query(
    "streaming_dedup",
    covers="§2.10-streaming-dedup",
    oracle=f"SELECT {', '.join(_EVENT_COLS)} FROM events",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input stream UNIONED WITH ITSELF (a re-delivery simulation —
    every event arrives twice through two independent file sources)
    through watermarked ``dropDuplicates(event_id)`` state — output is
    exactly the distinct event set, hash-checked against plain
    `SELECT ... FROM events`. Deterministic because duplicate copies are
    byte-identical, so whichever copy wins state admission carries the
    same values. State at scale is bounded by the watermark horizon
    (event_id → seen) — the streaming analog of W1 latest-snapshot dedup."""
    redelivered = es.read_events_stream(spark, sf_dir).unionByName(
        es.read_events_stream(spark, sf_dir)
    )
    return es.run_available_now(
        spark, es.dedup_stream(redelivered, watermark="3650 days")
    ).select(*_EVENT_COLS)


@query(
    "streaming_stream_static_join",
    covers="§2.10-stream-static-join",
    oracle="""
        SELECT e.event_id, e.ts, e.user_id, c.c_name AS user_name,
               c.c_mktsegment AS mktsegment, e.event_type, e.value
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def streaming_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch broadcast join of the stream against the customer
    dimension (J1's streaming twin) — the dim side re-read and broadcast
    each batch, the stream side never shuffles."""
    return es.run_available_now(
        spark,
        es.enrich_with_customer_dim(
            spark, es.read_events_stream(spark, sf_dir), sf_dir
        ),
    )


@query(
    "streaming_upsert_sink",
    covers="§2.10-upsert-sink",
    oracle=f"""
        SELECT {', '.join(_EVENT_COLS)}
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rn
              FROM events)
        WHERE rn = 1
    """,
)
def streaming_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL foreachBatch latest-wins merge sink run (``upsert_stream`` →
    parquet target keyed by user_id, newest by (ts, event_id)) read back
    after termination — exactly-once upsert semantics replayed by the
    oracle as batch last-write-wins (row_number DESC = 1). With
    Delta/Iceberg the sink body becomes MERGE INTO; semantics are fixed
    by sources.lake.upsert_latest.
    """
    import hashlib
    import os

    # One sink per (SOURCE identity, sink semantics), not per plan
    # construction: a fresh mkdtemp here leaked a target + __ckpt pair
    # (and re-ran the full streaming sink) on every call — bench alone
    # constructs the plan 5× (warmups + median-of-3). Same pattern as
    # the robust-census corpus (q_projection.py): key the path on the
    # events file's path|size|mtime so regenerated testdata invalidates
    # the cache, PLUS the streamed columns/key/order spec so a later
    # code change to the sink's semantics can never silently reuse a
    # stale sink built by the old code. Skip the run only
    # when an explicit _NHL_DONE sentinel exists — written AFTER
    # upsert_stream returns. _SUCCESS alone is NOT completion evidence:
    # upsert_latest rewrites leave one after EVERY micro-batch, so a
    # run that dies between batches leaves a partial sink that a
    # _SUCCESS-keyed skip would silently reuse. Driver-local
    # existence check, single-process assumption: probe/test
    # scaffolding, local-FS semantics — same trade as the robust census.
    cols = ("event_id", "ts", "user_id", "event_type", "value")
    sink_spec = f"cols={','.join(cols)};key=user_id;order=ts,event_id"
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    target = "/tmp/nhl_spark_upsert_sink_" + hashlib.md5(
        f"{src}|{st.st_size}|{st.st_mtime_ns}|{sink_spec}".encode()
    ).hexdigest()[:16] + "/events_latest"
    done = os.path.join(os.path.dirname(target), "_NHL_DONE")
    if not os.path.exists(done):
        es.upsert_stream(
            spark,
            es.read_events_stream(spark, sf_dir).select(*cols),
            target,
            key="user_id",
            order_cols=("ts", "event_id"),
        )
        with open(done, "w") as fh:
            fh.write("upsert_stream complete\n")
    return spark.read.parquet(target).select(*_EVENT_COLS)
