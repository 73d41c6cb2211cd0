"""Window-function coverage (SURVEY §2.6) + sorts/limits (§2.7).

W1 latest-snapshot dedup is THE core pattern of the reference (every staging
model runs it); rolling ROWS frames power its team/player trend metrics.
Every window here has a total order (unique tiebreak column) so results are
deterministic across engines — the reference learned the same lesson with
its (partition_date DESC, s3_key DESC) tie-break (SURVEY §7.3.2).

Windowed averages go through the decimal-exact idiom: SUM(decimal)/COUNT
instead of AVG(double), because a segment-tree windowed AVG may associate
additions differently per engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.functions.scalars import dec
from nhl_data_pipeline_spark.plans.registry import query
from nhl_data_pipeline_spark.plans.sqlgen import dsum


@query(
    "latest_snapshot_dedup",
    covers="W1",
    bench=True,
    oracle="""
        SELECT user_id, event_id, ts, event_type, value
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
)
def latest_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-snapshot-wins dedup, the reference's core pattern (W1):
    `QUALIFY ROW_NUMBER() OVER (PARTITION BY payload:id ORDER BY
    partition_date DESC, s3_key DESC) = 1` (`stg_games.sql:32`,
    `.context/DECISIONS.md:289-320`) applied to the events table: one
    surviving row per user_id, ordered by recency with a unique tiebreak.
    At scale: project needed columns BEFORE the window so the shuffle moves
    narrow rows, not full payloads (SURVEY §4 spill note).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "preference_rank",
    covers="W2",
    oracle="""
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_custkey
                ORDER BY CASE o_orderpriority
                           WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
                           WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
                           ELSE 5 END ASC,
                         o_orderdate DESC, o_orderkey DESC
            ) AS rn
            FROM orders
        )
        WHERE rn = 1
    """,
)
def preference_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-ordered preference ranking (W2): the bookmaker-priority pick
    (`fact_player_sog_props_v2.sql:33-53`) — a hand-written preference
    order, then recency, then a unique tiebreak, one row per customer."""
    o = load_table(spark, sf_dir, "orders")
    pref = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 3)
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", 4)
        .otherwise(5)
    )
    w = Window.partitionBy("o_custkey").orderBy(
        pref.asc(), F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority")
    )


@query(
    "rolling_avg_frames",
    covers="W3,W4",
    bench=True,
    oracle="""
        SELECT user_id, event_id, ts,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w3 AS DOUBLE)
                   / COUNT(*) OVER w3 AS avg_3,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w10 AS DOUBLE)
                   / COUNT(*) OVER w10 AS avg_10,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER wall AS DOUBLE)
                   / COUNT(*) OVER wall AS running_avg
        FROM events
        WINDOW
          w3  AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
          w10 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
          wall AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def rolling_avg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 3/10-row averages + running average (W3/W4).

    Analog of the 3/5/10-game rolling windows (`team_shot_metrics.sql:29-86`)
    and the UNBOUNDED PRECEDING season-to-date frame (`:66-77`). One shuffle
    on user_id serves all three frames (same partitioning + ordering).
    """
    e = load_table(spark, sf_dir, "events")
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w3 = base.rowsBetween(-2, 0)
    w10 = base.rowsBetween(-9, 0)
    wall = base.rowsBetween(Window.unboundedPreceding, 0)

    def avg_over(w):
        return F.sum(dec("value")).over(w).cast("double") / F.count(F.lit(1)).over(w)

    return e.select(
        "user_id",
        "event_id",
        "ts",
        avg_over(w3).alias("avg_3"),
        avg_over(w10).alias("avg_10"),
        avg_over(wall).alias("running_avg"),
    )


@query(
    "order_history_windows",
    covers="W4,W5,W6,W-ext-offset",
    oracle="""
        SELECT o_custkey, o_orderkey, o_orderdate AS order_ts,
               CAST(o_totalprice AS DOUBLE) AS total_price,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER wrun AS DOUBLE)
                   AS lifetime_spend,
               CAST(ROW_NUMBER() OVER w AS INT) AS order_seq,
               CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS total_orders,
               CAST(lag(o_totalprice)  OVER w AS DOUBLE) AS prev_price,
               CAST(lead(o_totalprice) OVER w AS DOUBLE) AS next_price,
               CAST(rank() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT)
                   AS price_rank
        FROM orders
        WINDOW
          w    AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
          wrun AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def order_history_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity order-history window suite: running total (W4), sequence
    numbering (W5), frameless windowed COUNT (W6), and lag/lead/rank offsets
    (beyond the reference — SURVEY §2.6 notes it uses none).

    Analogs: season-to-date UNBOUNDED PRECEDING frame
    (`team_shot_metrics.sql:66-77`), games_played_in_season counter
    (`team_shot_metrics.sql:80-83`), `COUNT(*) OVER (PARTITION BY ...)`
    (`player_shot_metrics.sql:66`). Every window is partitioned by
    o_custkey, so ONE shuffle + one sort serves all six functions (the
    rank window re-sorts within the same partitioning, no extra exchange);
    o_orderkey is the unique total-order tiebreak making offsets and ranks
    engine-deterministic.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    wcnt = Window.partitionBy("o_custkey")
    wr = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    price = F.col("o_totalprice").cast("double")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("order_ts"),
        price.alias("total_price"),
        F.sum(dec("o_totalprice")).over(wrun).cast("double").alias("lifetime_spend"),
        F.row_number().over(w).alias("order_seq"),
        F.count(F.lit(1)).over(wcnt).alias("total_orders"),
        F.lag(price).over(w).alias("prev_price"),
        F.lead(price).over(w).alias("next_price"),
        F.rank().over(wr).cast("bigint").alias("price_rank"),
    )


@query(
    "topk_customers_by_revenue",
    covers="O1,O2,J3,A1",
    bench=True,
    oracle=f"""
        SELECT c.c_custkey, c.c_name,
               {dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY c.c_custkey, c.c_name
        ORDER BY revenue DESC, c.c_custkey ASC
        LIMIT 25
    """,
)
def topk_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k report (TPC-H Q10 shape) with a deterministic tiebreak.

    Also covers O1 (`ORDER BY ingest_ts DESC LIMIT 1`,
    `bruins_next_opponent.sql:11-17`): ORDER BY + LIMIT k plans as the same
    distributed TakeOrderedAndProject physical operator for any k — LIMIT 1
    is the k=1 case, so the argmax shape needs no query of its own.

    Analog of the top-25 betting performers (`odds_matching_queries.sql:117-131`).
    Revenue is decimal-exact, so the ordering — and therefore the top-k SET —
    is identical across engines; c_custkey breaks exact-revenue ties.

    Plan shape: aggregate EARLY, join late. Revenue is pre-summed per order
    (600k→150k rows before any join; decimal sums are associative so the
    re-sum is exact), the orders join moves only (orderkey, custkey, dec)
    rows, and the customer dim joins broadcast AFTER the per-customer
    aggregate — so no wide row ever shuffles. ~25% faster than the
    join-first form at sf0.1 and the gap widens with lineitem fan-out.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # Measure as SQL text: the identical dec() cast, one py4j call.
    per_order = li.groupBy("l_orderkey").agg(
        F.expr(
            "sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))"
        ).alias("rev_d")
    )
    # Layout note: under the bucketed layout this join runs
    # with NO exchange on either side (per_order inherits lineitem's
    # bucketing through the aggregate; orders is bucketed on o_orderkey)
    # and the join sorts are small (1.2M narrow rows per task). A
    # SHUFFLE_HASH hint here was tried and REJECTED: the fused bucket
    # task (scan → 1.2M-key hash agg → join build) left too little task
    # memory for the build, and an SHJ build cannot spill — fatal
    # "Can't acquire 67108864 bytes to build hash relation" at sf100/128
    # buckets (bench_logs/r12/probe_bucketed_shj_topk_sf100.out.err).
    # SMJ degrades to disk instead of dying; the per-task memory knob is
    # the BUCKET COUNT (128 vs 256 buckets at sf100:
    # bench_logs/r12/probe_bucketed{,256}_topk_sf100.out).
    return (
        per_order.join(
            o.select("o_orderkey", "o_custkey"),
            per_order.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("rev_d").alias("rev_c"))
        .join(
            F.broadcast(c.select("c_custkey", "c_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            F.col("rev_c").cast("string").cast("double").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(25)
    )




RANGE_INTERVAL_WINDOW_SQL = """
    SELECT o_custkey, o_orderkey,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) OVER w
                     AS VARCHAR) AS DOUBLE) AS sum_30d,
           CAST(count(*) OVER w AS BIGINT) AS n_30d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
"""


@query(
    "range_interval_window",
    covers="W-ext-range-frame",
    oracle=RANGE_INTERVAL_WINDOW_SQL,
)
def range_interval_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-RANGE window frame: per customer, the rolling 30-DAY order
    total ending at each order — peers by VALUE distance, not row
    position, the frame type irregular time series need (ROWS frames
    undercount when a customer orders in bursts).

    Spark's rangeBetween requires a numeric order key, so the timestamp
    is projected to epoch DAYS (datediff from the epoch) and the frame is
    [-30, 0] days inclusive — value-identical to the oracle's
    ``RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW`` over the
    date ordering (both engines' RANGE bounds are inclusive). The sum is
    decimal-exact — emitted as DOUBLE through the varchar bridge
    (sqlgen.dsum_expr rationale) so the hash compares engine-stably.
    """
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-30, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
        .over(w)
        .cast("decimal(38,2)")
        .cast("string")
        .cast("double")
        .alias("sum_30d"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_30d"),
    )
