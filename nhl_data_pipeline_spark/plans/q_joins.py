"""Join operator coverage (SURVEY §2.4).

The reference's join surface: broadcast dim denormalization, composite keys,
inner chains, fuzzy OR-of-LIKE theta joins, derived-key fuzzy joins with
point-in-time guards + preference ranks, multi-strategy entity resolution
with anti-join precedence, scalar cross joins, anti joins, tuple-IN semi
joins, and filtered-aggregate self-comparison. Each query reproduces one
shape over the synthetic star schema.

Scale notes: dims (region/nation/supplier/part/customer) broadcast — no
shuffle of the fact side; the fuzzy OR join is a BroadcastNestedLoopJoin by
construction (small side broadcast), acceptable because one side is always
dim-sized, exactly like the reference's odds-name matching (J4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.functions.scalars import (
    dsum_double_sql,
    split_part,
)
from nhl_data_pipeline_spark.operators.ranges import interval_join_bucketed
from nhl_data_pipeline_spark.plans.registry import query
from nhl_data_pipeline_spark.plans.sqlgen import bcount, dsum


@query(
    "broadcast_dim_join",
    covers="J1,A1",
    bench=True,
    oracle=f"""
        SELECT p.p_brand, {dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
               {bcount('n_lines')}
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    """,
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT/INNER equi-join against a small dimension, broadcast.

    Analog of fact←dim_player/dim_team denormalization
    (`fact_player_game_stats.sql:139-140`): dims are tiny, so the join is a
    BroadcastHashJoin — the fact side never shuffles.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        # Measures as SQL text: one py4j round trip each.
        .agg(
            F.expr(
                dsum_double_sql("l_extendedprice * (1 - l_discount)")
            ).alias("revenue"),
            F.expr("count(1)").alias("n_lines"),
        )
    )


@query(
    "composite_key_join",
    covers="J2",
    oracle=f"""
        WITH grp AS (
            SELECT l_orderkey, l_suppkey, {dsum('l_quantity', 'grp_qty')},
                   {bcount('grp_lines')}
            FROM lineitem GROUP BY l_orderkey, l_suppkey
        )
        SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, g.grp_qty, g.grp_lines
        FROM lineitem l
        JOIN grp g ON l.l_orderkey = g.l_orderkey AND l.l_suppkey = g.l_suppkey
    """,
)
def composite_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join on a composite key against an aggregate of the same table.

    Analog of team_stats ← team_aggregates on (game_id, team_id, home_away)
    (`fact_team_game_stats.sql:158`). Both sides share the (l_orderkey,
    l_suppkey) hash partitioning, so AQE can plan a single shuffle reused by
    the aggregate and the join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    grp = li.groupBy("l_orderkey", "l_suppkey").agg(
        # Narrow-decimal sum (see pricing_summary's bound note):
        # per-(order,supp) qty sums are ≤ 7 lines × 50, far inside
        # decimal(18,2) at any scale.
        F.expr(dsum_double_sql("l_quantity", 2, prec=8)).alias("grp_qty"),
        F.count(F.lit(1)).alias("grp_lines"),
    )
    return li.join(grp, ["l_orderkey", "l_suppkey"]).select(
        "l_orderkey", "l_linenumber", "l_suppkey", "grp_qty", "grp_lines"
    )


@query(
    "join_chain_revenue",
    covers="J3,J1,A1,P3",
    bench=True,
    oracle=f"""
        SELECT n.n_name, {dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n.n_name
    """,
)
def join_chain_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join chain across five tables (TPC-H Q5 shape).

    Analog of the player_actuals chain `fact_player_sog_props_v2.sql:83-86`.
    Dim tables broadcast; the customer⋈orders and orders⋈lineitem joins
    shuffle on their natural keys. The region filter prunes before any join.
    """
    from nhl_data_pipeline_spark.catalog import bucketed_on

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    co = c.join(o, F.col("c_custkey") == F.col("o_custkey"))
    if bucketed_on("lineitem", "l_orderkey"):
        # Layout-aware join strategy
        # (bench_logs/r12/probe_bucketed_join_sf100.out): with a
        # multi-file-bucket lineitem the default sort-merge join re-sorts
        # every bucket locally — 25 GB mem / 9.3 GB disk sorter spill at
        # sf100, the exact disk-bound pathology the layout was built to
        # remove, just moved from the exchange into the join. SHUFFLE_HASH
        # on the (customer⋈orders) side builds the hash from the SMALL,
        # date-filtered side (~13 MB/task at sf100/128 buckets) and
        # STREAMS lineitem bucket-by-bucket: no lineitem shuffle AND no
        # lineitem sort.
        co = co.hint("shuffle_hash")
    return (
        co.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == s.s_suppkey)
            & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy("n_name")
        .agg(
            F.expr(
                dsum_double_sql("l_extendedprice * (1 - l_discount)")
            ).alias("revenue")
        )
    )


@query(
    "fuzzy_or_like_join",
    covers="J4",
    oracle="""
        SELECT c.c_custkey, s.s_suppkey
        FROM customer c
        JOIN supplier s
          ON (string_split(c.c_name, '#'))[2] = (string_split(s.s_name, '#'))[2]
          OR c.c_name LIKE '%' || right(s.s_name, 4)
    """,
)
def fuzzy_or_like_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join with an OR-of-LIKE predicate (fuzzy name matching v1).

    Analog of `UPPER(a)=UPPER(b) OR UPPER(a) LIKE '%'||last_name||'%'`
    (`fact_player_sog_props.sql:121-127`). Naively this OR predicate forces
    a BroadcastNestedLoopJoin scoring |C|×|S| pairs. Spark-first rewrite:
    both disjuncts are secretly EQUI conditions — the LIKE is end-anchored,
    and ends-with against a fixed-length-4 suffix is exactly
    right(c_name, 4) = right(s_name, 4) (names shorter than 4 fail both
    forms) — so the OR decomposes into a UNION of two broadcast hash joins
    deduped on the pair key. Same pair set (a pair matching both disjuncts
    appears once, as in the single join), same oracle, ~25× faster; the
    BNLJ remains the fallback only for truly unanchorable '%x%' patterns.
    """
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    j1 = c.join(
        F.broadcast(s), split_part(c.c_name, "#", 2) == split_part(s.s_name, "#", 2)
    ).select("c_custkey", "s_suppkey")
    j2 = c.join(
        F.broadcast(s), F.right(c.c_name, F.lit(4)) == F.right(s.s_name, F.lit(4))
    ).select("c_custkey", "s_suppkey")
    return j1.unionByName(j2).distinct()


@query(
    "asof_prev_order",
    covers="J5,W2",
    oracle="""
        WITH ranked AS (
            SELECT o1.o_orderkey AS orderkey,
                   o2.o_orderkey AS prev_orderkey,
                   o2.o_orderdate AS prev_ts,
                   ROW_NUMBER() OVER (
                       PARTITION BY o1.o_orderkey
                       ORDER BY o2.o_orderdate DESC, o2.o_orderkey DESC
                   ) AS rn
            FROM orders o1
            JOIN orders o2
              ON o1.o_custkey = o2.o_custkey
             AND o2.o_orderdate < o1.o_orderdate
        )
        SELECT orderkey, prev_orderkey, prev_ts FROM ranked WHERE rn = 1
    """,
)
def asof_prev_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) join: latest strictly-earlier row per key.

    The reference's v2 fuzzy join guards `rp.game_date <= pl.game_date` and
    ranks by recency (`fact_player_sog_props_v2.sql:115-128`) — an as-of
    join composed from an equi join on the entity key, a non-equi time
    guard, and a ROW_NUMBER preference rank. Both sides hash-partition on
    o_custkey, so the self-join is a single co-partitioned shuffle.
    """
    o = load_table(spark, sf_dir, "orders")
    o1 = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderdate").alias("ts"),
    )
    o2 = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("prev_orderkey"),
        F.col("o_orderdate").alias("prev_ts"),
    )
    w = Window.partitionBy("orderkey").orderBy(
        F.desc("prev_ts"), F.desc("prev_orderkey")
    )
    return (
        o1.join(o2, (o1.custkey == o2.custkey) & (F.col("prev_ts") < F.col("ts")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("orderkey", "prev_orderkey", "prev_ts")
    )


@query(
    "entity_resolution_crosswalk",
    covers="J6,J8,U1,W2",
    oracle="""
        WITH ckey AS (
            SELECT c_custkey, (string_split(c_name, '#'))[2] AS suffix FROM customer
        ),
        skey AS (
            SELECT s_suppkey, (string_split(s_name, '#'))[2] AS suffix FROM supplier
        ),
        s1 AS (
            SELECT c.c_custkey, s.s_suppkey, 1.00 AS confidence, 'exact' AS strategy
            FROM ckey c JOIN skey s ON c.suffix = s.suffix
        ),
        s2 AS (
            SELECT c.c_custkey, s.s_suppkey, 0.95 AS confidence, 'last3' AS strategy
            FROM ckey c JOIN skey s ON right(c.suffix, 3) = right(s.suffix, 3)
            WHERE NOT EXISTS (SELECT 1 FROM s1 WHERE s1.c_custkey = c.c_custkey)
        ),
        s3 AS (
            SELECT c.c_custkey, s.s_suppkey, 0.85 AS confidence, 'mod10' AS strategy
            FROM ckey c JOIN skey s
              ON CAST(c.suffix AS BIGINT) % 10 = CAST(s.suffix AS BIGINT) % 10
            WHERE NOT EXISTS (SELECT 1 FROM s1 WHERE s1.c_custkey = c.c_custkey)
              AND NOT EXISTS (SELECT 1 FROM s2 WHERE s2.c_custkey = c.c_custkey)
        ),
        unioned AS (
            SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
        ),
        best AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY c_custkey
                ORDER BY confidence DESC, s_suppkey ASC
            ) AS rn
            FROM unioned
        )
        SELECT c_custkey, s_suppkey, CAST(confidence AS DOUBLE) AS confidence, strategy
        FROM best WHERE rn = 1
    """,
)
def entity_resolution_crosswalk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-strategy entity resolution with precedence + best-match rank.

    Analog of the player-name crosswalk (`stg_player_name_crosswalk.sql:66-139`):
    three match strategies of decreasing confidence, each excluding entities
    already matched by earlier strategies (reference uses NOT IN; we use
    left_anti, equivalent here because keys are non-null), unioned, then one
    best match per entity via a preference window. All three joins are
    broadcast (supplier-side is a dim); anti joins are broadcast too.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", split_part(F.col("c_name"), "#", 2).alias("suffix")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", split_part(F.col("s_name"), "#", 2).alias("s_suffix")
    )
    conf = lambda v: F.lit(v).cast("decimal(3,2)")  # noqa: E731

    s1 = (
        c.join(F.broadcast(s), c.suffix == s.s_suffix)
        .select("c_custkey", "s_suppkey", conf("1.00").alias("confidence"),
                F.lit("exact").alias("strategy"))
    )
    c2 = c.join(s1.select("c_custkey"), "c_custkey", "left_anti")
    s2 = (
        c2.join(F.broadcast(s), F.substring(c2.suffix, -3, 3) == F.substring(s.s_suffix, -3, 3))
        .select("c_custkey", "s_suppkey", conf("0.95").alias("confidence"),
                F.lit("last3").alias("strategy"))
    )
    c3 = c2.join(s2.select("c_custkey"), "c_custkey", "left_anti")
    s3 = (
        c3.join(
            F.broadcast(s),
            c3.suffix.cast("bigint") % 10 == s.s_suffix.cast("bigint") % 10,
        )
        .select("c_custkey", "s_suppkey", conf("0.85").alias("confidence"),
                F.lit("mod10").alias("strategy"))
    )
    unioned = s1.unionByName(s2).unionByName(s3)
    w = Window.partitionBy("c_custkey").orderBy(
        F.desc("confidence"), F.asc("s_suppkey")
    )
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", "s_suppkey", F.col("confidence").cast("double").alias("confidence"), "strategy")
    )


@query(
    "cross_anti_join_flags",
    covers="J7,J8",
    oracle="""
        SELECT c.c_custkey, c.c_name,
               CASE WHEN EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_custkey = c.c_custkey)
                    THEN 'has_orders' ELSE 'no_orders' END AS order_status,
               g.max_order_ts
        FROM customer c
        CROSS JOIN (SELECT max(o_orderdate) AS max_order_ts FROM orders) g
    """,
)
def cross_anti_join_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar broadcast cross join + semi/anti partition of one dimension:
    every customer tagged has_orders/no_orders via a GENUINE left_semi /
    left_anti pair (both operators stay in the physical plan — pinned in
    tests/test_plan_shape.py), with the global latest order timestamp
    attached to every row by a broadcast nested-loop cross join.

    Analogs: attaching `current_season` / `next_opponent` to every row
    (`dim_player.sql:79`, `bruins_opponent_shot_locations.sql:21`);
    unmatched odds names (`odds_matching_queries.sql:35-44`) and the
    Iceberg incremental skip-existing anti join
    (`iceberg/bronze_odds_player_props.py:274-291`). At scale both halves
    broadcast the orders key set (or shuffle on custkey when it outgrows
    the broadcast threshold); the scalar side is always a 1-row broadcast.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    g = o.agg(F.max("o_orderdate").alias("max_order_ts"))
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .withColumn("order_status", F.lit("has_orders"))
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .withColumn("order_status", F.lit("no_orders"))
    )
    return semi.unionByName(anti).crossJoin(F.broadcast(g))


@query(
    "semi_join_latest_order",
    covers="J9",
    oracle="""
        SELECT o.o_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM (
                SELECT o_custkey, max(o_orderdate) AS max_ts
                FROM orders GROUP BY o_custkey
            ) m
            WHERE m.o_custkey = o.o_custkey AND m.max_ts = o.o_orderdate
        )
    """,
)
def semi_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join via tuple-IN against an aggregate: the latest order per
    customer, analog of latest-game-per-team streak detection
    (`team_shot_example_queries.sql:96-103`), expressed as a left_semi on
    the composite key (the plan Spark produces for a multi-column IN
    subquery)."""
    o = load_table(spark, sf_dir, "orders")
    latest = o.groupBy("o_custkey").agg(F.max("o_orderdate").alias("o_orderdate"))
    return o.join(latest, ["o_custkey", "o_orderdate"], "left_semi").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )


@query(
    "self_compare_filtered_aggs",
    covers="J10,A3",
    oracle=f"""
        WITH clicks AS (
            SELECT user_id, {dsum('value', 'click_value')}, {bcount('n_clicks')}
            FROM events WHERE event_type = 'click' GROUP BY user_id
        ),
        purchases AS (
            SELECT user_id, {dsum('value', 'purchase_value')}, {bcount('n_purchases')}
            FROM events WHERE event_type = 'purchase' GROUP BY user_id
        )
        SELECT c.user_id, c.click_value, c.n_clicks, p.purchase_value, p.n_purchases
        FROM clicks c JOIN purchases p ON c.user_id = p.user_id
    """,
)
def self_compare_filtered_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two filtered aggregations of one table joined for comparison.

    Analog of the home/away self-comparison CTEs
    (`team_shot_example_queries.sql:132-162`). A single groupBy+pivot is the
    cheaper plan (one shuffle); this preserves the reference's two-CTE shape
    — AQE still co-partitions both sides on user_id.
    """
    e = load_table(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(
            F.expr(dsum_double_sql("value")).alias("click_value"),
            F.count(F.lit(1)).alias("n_clicks"),
        )
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.expr(dsum_double_sql("value")).alias("purchase_value"),
            F.count(F.lit(1)).alias("n_purchases"),
        )
    )
    return clicks.join(purchases, "user_id").select(
        "user_id", "click_value", "n_clicks", "purchase_value", "n_purchases"
    )


_N_IV, _IV_STRIDE_H, _IV_SPAN_H = 20, 37, 5


@query(
    "interval_bin_join",
    covers="interval-join,J2",
    oracle=f"""
        WITH t0 AS (SELECT date_trunc('hour', min(ts)) AS t0 FROM events),
        iv AS (
            SELECT CAST(g.i AS BIGINT) AS iv_id,
                   t0.t0 + to_hours(g.i * {_IV_STRIDE_H}) AS start_ts,
                   t0.t0 + to_hours(g.i * {_IV_STRIDE_H} + {_IV_SPAN_H}) AS end_ts
            FROM t0, generate_series(0, {_N_IV - 1}) AS g(i)
        )
        SELECT e.event_id, iv.iv_id, e.ts, iv.start_ts, iv.end_ts
        FROM events e
        JOIN iv ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
    """,
)
def interval_bin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points-in-maintenance-windows via the bucketed interval join
    (operators/ranges.py:interval_join_bucketed).

    The general form of the reference's point-in-time guard
    (`fact_player_sog_props_v2.sql:115-128`; SURVEY §2.4 lists range/
    interval joins as not-present — this closes the gap). The interval
    table is derived deterministically from the data: 20 windows of
    5h every 37h from the first event hour.

    The oracle is the raw theta join; the engine side is the bin join —
    intervals explode into the hourly buckets they overlap, points bucket
    once, hash-equi-join on the bucket, exact range predicate as residual.
    Plans as a shuffled hash/broadcast join (asserted in
    tests/test_plan_shape.py), NOT BroadcastNestedLoopJoin: at 100 TB of
    points this is the only shape that avoids the O(P×I) nested loop while
    keeping the point side to a single shuffle-free bucket projection.
    """
    e = load_table(spark, sf_dir, "events").select("event_id", "ts")
    t0 = load_table(spark, sf_dir, "events").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0")
    )
    iv = t0.select(
        F.explode(F.sequence(F.lit(0), F.lit(_N_IV - 1))).alias("i"), "t0"
    ).select(
        F.col("i").cast("bigint").alias("iv_id"),
        F.expr(f"t0 + make_dt_interval(0, i * {_IV_STRIDE_H}, 0, 0)").alias(
            "start_ts"
        ),
        F.expr(
            f"t0 + make_dt_interval(0, i * {_IV_STRIDE_H} + {_IV_SPAN_H}, 0, 0)"
        ).alias("end_ts"),
    )
    joined = interval_join_bucketed(e, iv, bucket="hour")
    return joined.select("event_id", "iv_id", "ts", "start_ts", "end_ts")


@query(
    "bloom_prejoin_identity",
    covers="J-ext-bloom-runtime-filter,J3,P5",
    oracle="""
        SELECT l.l_orderkey, l.l_linenumber,
               CAST(p.p_partkey AS BIGINT) AS p_partkey, p.p_brand,
               l.l_extendedprice * (1 - l.l_discount) AS revenue
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#23'
    """,
)
def bloom_prejoin_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dim join with explicit Bloom pre-pruning on the fact
    side — driver-checked against the PLAIN join's SQL, so the oracle row
    IS the module's results-identical guarantee (false positives are
    discarded by the join, false negatives cannot occur).

    Analog of the reference's prefilter-before-join shape — the odds
    scan is cut to one market and best book BEFORE the dim joins
    (`fact_player_sog_props_v2.sql:44-53`, then the stg_games/dim joins
    at `:83-86`); the reference relies on Snowflake's automatic join
    pruning —
    here the ≤16 KB word table from `operators/bloom.bloom_build` is
    applied as a literal-array predicate inside whole-stage codegen at
    the scan, so the join's exchange moves ~selectivity of the fact rows
    (measured at sf0.1: 150k → 6.2k exchange records, ε = 0.0 —
    BENCH_r05 `bloom_prejoin_probe`). At 100 TB this is the explicit
    form of AQE's InjectRuntimeFilter, which only fires above its
    creation-side thresholds (probed in `operators/bloom.py` docs).
    """
    from nhl_data_pipeline_spark.operators.bloom import bloom_prejoin

    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice",
        "l_discount",
    )
    pruned = bloom_prejoin(li, "l_partkey", part, "p_partkey")
    return (
        pruned.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            pruned.l_partkey == F.col("p_partkey"),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "p_partkey",
            "p_brand",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )
