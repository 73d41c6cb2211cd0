"""Aggregation operator coverage (SURVEY §2.5, §2.7, §2.8).

Each query re-expresses one aggregation pattern the reference implements in
Snowflake SQL (cited per query) as declarative DataFrame ops: hash aggregates
with automatic partial (map-side) aggregation, no UDAFs, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.functions.scalars import (
    dec,
    dsum_double_sql,
)
from nhl_data_pipeline_spark.plans.registry import query
from nhl_data_pipeline_spark.plans.sqlgen import bcount, dsum, dsum_expr


@query(
    "pricing_summary",
    covers="A1,A2,P3,P5",
    bench=True,
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {dsum('l_quantity', 'sum_qty')},
               {dsum('l_extendedprice', 'sum_base_price')},
               {dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
               {dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge', 8)},
               {dsum_expr('l_quantity')} / COUNT(*) AS avg_qty,
               {dsum_expr('l_extendedprice')} / COUNT(*) AS avg_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
               {bcount('count_order')}
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure scan-filter-aggregate (TPC-H Q1 shape).

    Reference analog: the season aggregate `player_shot_metrics.sql:114-170`
    (one GROUP BY, a dozen SUM/AVG measures with guarded division). Filter is
    pushed to the parquet scan; aggregation is a two-phase hash aggregate.

    Cost note, measured at sf0.1 (600K rows, local[32]): the DOUBLE form
    of this aggregate runs in ~0.22 s; the decimal-exact form benched here
    takes ~1.1-1.4 s (~0.12 s per decimal measure) — Spark's Decimal sum
    buffers are 128-bit once the result precision exceeds 18. That 5-6× is
    the deliberate price of cross-engine bit-exact results (the registry's
    hash gate); a production pipeline whose consumers tolerate float
    reduction-order wobble would use plain double sums and reclaim it.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = "l_extendedprice * (1 - l_discount)"
    # (l_tax + 1), not (1 + l_tax): the Column form's __radd__ emitted the
    # flipped order, and keeping it byte-stable keeps the committed plan
    # captures diff-clean (values are identical either way).
    charge = f"{disc_price} * (l_tax + 1)"
    # Narrow-decimal sums (see scalars.dec): l_quantity
    # (integer-valued, ≤ 50 by the TPC-H data contract) and l_discount
    # (≤ 0.10, 2 dp) fit precision-8 decimals, so their SUMs compile to
    # unscaled-LONG adds via DecimalAggregates instead of Decimal128
    # accumulators. 100 TB overflow bounds vs the rewritten result type:
    # qty → decimal(18,2): 10^12 rows × 50 = 5e13 < 1e16 (200×);
    # disc → decimal(18,6): 10^12 × 0.1 = 1e11 < 1e12 (10×). The three
    # price measures need ≥ 10 integer+fraction digits and stay wide.
    # Values are bit-identical (both forms exact; the string bridge
    # normalizes trailing zeros) — oracle-verified.
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        # Measures rendered as SQL text: one py4j round trip per measure
        # (see scalars.dsum_double_sql).
        .agg(
            F.expr(dsum_double_sql("l_quantity", 2, prec=8)).alias("sum_qty"),
            F.expr(dsum_double_sql("l_extendedprice")).alias("sum_base_price"),
            F.expr(dsum_double_sql(disc_price)).alias("sum_disc_price"),
            F.expr(dsum_double_sql(charge, 8)).alias("sum_charge"),
            F.expr(
                f"{dsum_double_sql('l_quantity', 2, prec=8)} / count(1)"
            ).alias("avg_qty"),
            F.expr(
                f"{dsum_double_sql('l_extendedprice')} / count(1)"
            ).alias("avg_price"),
            F.expr(
                f"{dsum_double_sql('l_discount', 6, prec=8)} / count(1)"
            ).alias("avg_disc"),
            F.expr("count(1)").alias("count_order"),
        )
    )


@query(
    "conditional_pivot",
    covers="A3",
    oracle=f"""
        SELECT c_nationkey,
               {dsum("CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN c_acctbal ELSE 0 END", "automobile_bal")},
               {dsum("CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal ELSE 0 END", "building_bal")},
               {dsum("CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal ELSE 0 END", "machinery_bal")},
               {bcount('n_household', "c_mktsegment = 'HOUSEHOLD'")},
               {bcount('n_customers')}
        FROM customer
        GROUP BY c_nationkey
    """,
)
def conditional_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (manual pivot): SUM/COUNT of CASE per group.

    Analog of `MAX(CASE WHEN bet_type='Over' THEN odds END)` and the
    position-split shot sums (`fact_player_sog_props_v2.sql:57-71`,
    `team_shots_against_by_position.sql:30-41`). `groupBy().pivot()` is the
    sugar form; the explicit CASE keeps the column list stable.
    """
    c = load_table(spark, sf_dir, "customer")

    def seg_bal(seg: str):
        return F.sum(
            dec(F.when(F.col("c_mktsegment") == seg, F.col("c_acctbal")).otherwise(F.lit(0.0)))
        ).cast("double")

    return c.groupBy("c_nationkey").agg(
        seg_bal("AUTOMOBILE").alias("automobile_bal"),
        seg_bal("BUILDING").alias("building_bal"),
        seg_bal("MACHINERY").alias("machinery_bal"),
        F.count(F.when(F.col("c_mktsegment") == "HOUSEHOLD", 1)).alias("n_household"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@query(
    "distinct_counts",
    covers="A4,A5,A6",
    oracle=f"""
        SELECT d.event_type, d.user_id, u.unique_users, u.n_events,
               u.n_over, u.n_decided, u.over_rate
        FROM (SELECT DISTINCT event_type, user_id FROM events) d
        JOIN (
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_users,
                   {bcount('n_events')},
                   {bcount('n_over', 'value > 250')},
                   {bcount('n_decided', 'value <> 250')},
                   CAST(COUNT(CASE WHEN value > 250 THEN 1 END) AS DOUBLE)
                       / NULLIF(COUNT(CASE WHEN value <> 250 THEN 1 END), 0)
                       AS over_rate
            FROM events
            GROUP BY event_type
        ) u USING (event_type)
    """,
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT dedup (A5) + exact COUNT(DISTINCT) per group (A6) +
    NULLIF-guarded filtered-count hit-rate ratios (A4): every distinct
    (event_type, user_id) pair annotated with its group's counts and
    over-rate. The ratio columns ride the same per-event_type aggregate
    pass, so they cost no extra scan.

    Analogs: dim_team's DISTINCT + the crosswalk's distinct odds names
    (`dim_team.sql:11-30`, `stg_player_name_crosswalk.sql:52-64`), the
    bronze validation profile (`query/validate_bronze.py:65-84`), and the
    SOG-props over/under hit rates (`rpt_sog_props_performance.sql:25-118`:
    `COUNT(CASE ...) / NULLIF(COUNT(CASE ...), 0)`). The distinct set is a
    hash aggregate with map-side partials; the countDistinct expands to
    Spark's two-phase distinct aggregate; the 5-row counts side broadcasts
    back onto the distinct set. At 100 TB, prefer approx_count_distinct
    (HLL) unless exactness is contractual — the exact form shuffles every
    distinct (group, user) pair.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.select("event_type", "user_id").distinct()
    n_over = F.count(F.when(F.col("value") > 250, 1))
    n_decided = F.count(F.when(F.col("value") != 250, 1))
    u = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("unique_users"),
        F.count(F.lit(1)).alias("n_events"),
        n_over.alias("n_over"),
        n_decided.alias("n_decided"),
        F.when(n_decided != 0, n_over.cast("double") / n_decided)
        .otherwise(F.lit(None).cast("double"))
        .alias("over_rate"),
    )
    return d.join(u, "event_type")


@query(
    "having_min_sample",
    covers="A7,A8",
    oracle=f"""
        SELECT c_nationkey, c_mktsegment, {bcount('n_customers')},
               {dsum('c_acctbal', 'total_balance')}
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
        HAVING COUNT(*) >= 10
    """,
)
def having_min_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING + GROUP BY ordinal (A7+A8).

    Analog of `HAVING COUNT(*) >= 5/10/20`
    (`rpt_sog_props_performance.sql:73,104`) and `GROUP BY 1,2,...,7`
    (`fact_player_sog_props_v2.sql:71`). Runs through spark.sql
    deliberately (SURVEY §3.2 — analyst SQL must run unchanged): Spark
    honors ordinals via spark.sql.groupByOrdinal (default on) and places
    the HAVING filter after the aggregate. The decimal-exact sum uses the
    same string-bridge idiom as functions.scalars.dsum_double_sql.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS STRING)
                    AS DOUBLE) AS total_balance
        FROM customer_v
        GROUP BY 1, 2
        HAVING COUNT(*) >= 10
        """
    )


_NULL_PROFILE_COLS = ("event_id", "user_id", "event_type", "value", "props")


@query(
    "set_operations",
    covers="U1,U2",
    oracle=f"""
        SELECT user_id, metric_source, metric_value, {bcount('n_copies')}
        FROM (
            SELECT user_id, 'click' AS metric_source, value AS metric_value
            FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT user_id, 'purchase' AS metric_source, value AS metric_value
            FROM events WHERE event_type = 'purchase'
        )
        GROUP BY user_id, metric_source, metric_value
    """,
)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL with rename-alignment (U1) + deduplicating UNION (U2).

    Analogs: the 4-way home/away×position union
    (`stg_player_game_stats.sql:29-57`), the rename-for-compatibility union
    (`team_shot_locations.sql:117`), and dim_team's deduplicating UNION
    (`dim_team.sql:21`). unionByName guards against the positional-union
    column-swap bug; the groupBy-all-columns dedup keeps the UNION ALL
    multiplicity observable as n_copies (ALL and DISTINCT semantics in one
    plan: Union → two-phase hash aggregate, map-side partials combine
    before the shuffle).
    """
    e = load_table(spark, sf_dir, "events")

    def side(event_type: str) -> DataFrame:
        return e.filter(F.col("event_type") == event_type).select(
            "user_id",
            F.lit(event_type).alias("metric_source"),
            F.col("value").alias("metric_value"),
        )

    return (
        side("click")
        .unionByName(side("purchase"))
        .groupBy("user_id", "metric_source", "metric_value")
        .agg(F.count(F.lit(1)).alias("n_copies"))
    )


@query(
    "intersect_except",
    covers="U-ext-intersect,U-ext-except",
    oracle="""
        SELECT nationkey, 'intersect' AS set_op FROM (
            SELECT c_nationkey AS nationkey FROM customer
            INTERSECT
            SELECT s_nationkey FROM supplier
        )
        UNION ALL
        SELECT nationkey, 'except' FROM (
            SELECT c_nationkey AS nationkey FROM customer
            EXCEPT
            SELECT s_nationkey FROM supplier
        )
    """,
)
def intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INTERSECT / EXCEPT dialect extensions (beyond the reference —
    SURVEY §2.8 notes it has neither), each nation key labelled with the
    set operation that produced it. INTERSECT plans as a left-semi join
    after distinct, EXCEPT as a left-anti join (the J8 shape, reused by
    Catalyst); both share the same two scans."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return (
        c.intersect(s)
        .withColumn("set_op", F.lit("intersect"))
        .unionByName(c.subtract(s).withColumn("set_op", F.lit("except")))
    )


@query(
    "profiling_aggregates",
    covers="A-ext-cube",
    oracle=f"""
        SELECT o_orderstatus, o_orderpriority,
               {bcount('n')}, {dsum('o_totalprice', 'total')}
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def profiling_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over orders: SURVEY §2.5 notes the reference has
    none; a 100 TB profiling pipeline wants every marginal from one pass."""
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(dsum_double_sql("o_totalprice")).alias("total"),
        )
    )


@query(
    "percentile_profile",
    covers="A-ext-percentile",
    oracle=f"""
        SELECT event_type,
               {", ".join(
                   f"lo{p} + (COALESCE(hi{p}, lo{p}) - lo{p}) * fr{p} AS p{p}"
                   for p in ("50", "90", "99")
               )}
        FROM (
            SELECT event_type,
                   {", ".join(
                       f'''max(CASE WHEN rn = k{p} + 1 THEN value END)
                           AS lo{p},
                       max(CASE WHEN rn = k{p} + 2 THEN value END) AS hi{p},
                       max(CASE WHEN rn = k{p} + 1
                                THEN pos{p} - CAST(k{p} AS DOUBLE) END)
                           AS fr{p}'''
                       for p in ("50", "90", "99")
                   )}
            FROM (
                SELECT event_type, value, rn,
                       {", ".join(
                           f'''0.{p} * CAST(cnt - 1 AS DOUBLE) AS pos{p},
                           CAST(floor(0.{p} * CAST(cnt - 1 AS DOUBLE))
                                AS BIGINT) AS k{p}'''
                           for p in ("50", "90", "99")
                       )}
                FROM (
                    SELECT event_type, value,
                           row_number() OVER (PARTITION BY event_type
                                              ORDER BY value) AS rn,
                           count(*) OVER (PARTITION BY event_type) AS cnt
                    FROM events WHERE value IS NOT NULL
                )
            )
            GROUP BY event_type
        )
    """,
)
def percentile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated p50/p90/p99 per event type (at 100 TB prefer
    approx_percentile's t-digest).

    Explicit rank arithmetic, not the builtin: Spark `percentile` and
    DuckDB `quantile_cont` implement the same definition with
    differently-ordered float ops, and at sf1 (1M events) the p99
    interpolation drifted 1 ulp between them (caught by an sf1 parity
    sweep; bit-equal held through sf0.1). Here BOTH engines evaluate the
    identical expression tree — pos = p·(n−1); k = floor(pos); lo/hi =
    values at rank k+1/k+2; lo + (coalesce(hi, lo) − lo)·(pos − k) — so
    every IEEE op matches bit-for-bit at any scale. NULL values are
    filtered first (the builtins ignore them; NULL ordering also differs
    between engines)."""
    from pyspark.sql.window import Window as W

    ranked = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("event_type").orderBy("value")),
        )
        .withColumn(
            "cnt", F.count(F.lit(1)).over(W.partitionBy("event_type"))
        )
    )
    aggs = []
    for p, tag in ((0.5, "50"), (0.9, "90"), (0.99, "99")):
        pos = F.lit(p) * (F.col("cnt") - 1).cast("double")
        k = F.floor(pos)
        aggs += [
            F.max(F.when(F.col("rn") == k + 1, F.col("value"))).alias(
                f"lo{tag}"
            ),
            F.max(F.when(F.col("rn") == k + 2, F.col("value"))).alias(
                f"hi{tag}"
            ),
            F.max(
                F.when(F.col("rn") == k + 1, pos - k.cast("double"))
            ).alias(f"fr{tag}"),
        ]

    def interp(tag: str) -> F.Column:
        lo, hi, fr = (F.col(f"{c}{tag}") for c in ("lo", "hi", "fr"))
        return lo + (F.coalesce(hi, lo) - lo) * fr

    return ranked.groupBy("event_type").agg(*aggs).select(
        "event_type", *(interp(t).alias(f"p{t}") for t in ("50", "90", "99"))
    )


@query(
    "null_profiling",
    covers="A9",
    oracle=f"""
        SELECT cols.column_name, cols.n_nulls, t.n_rows
        FROM (
            {" UNION ALL ".join(
                f'''SELECT '{c}' AS column_name,
                    CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_nulls FROM events'''
                for c in _NULL_PROFILE_COLS
            )}
        ) cols
        CROSS JOIN (SELECT count(*) AS n_rows FROM events) t
    """,
)
def null_profiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null profile of events (A9): analog of the time-travel
    validator's null profile (`src/nhl_pipeline/utils/
    time_travel_validator.py:126-160`, `query/validate_bronze.py:157-166`).
    ONE aggregate pass produces a single row, unpivoted to one row per
    column via `stack` — no per-column rescans."""
    one = load_table(spark, sf_dir, "events").agg(
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"_null_{c}")
            for c in _NULL_PROFILE_COLS
        ],
        F.count(F.lit(1)).alias("n_rows"),
    )
    stack_args = ", ".join(f"'{c}', _null_{c}" for c in _NULL_PROFILE_COLS)
    return one.select(
        F.expr(
            f"stack({len(_NULL_PROFILE_COLS)}, {stack_args}) AS (column_name, n_nulls)"
        ),
        "n_rows",
    )
