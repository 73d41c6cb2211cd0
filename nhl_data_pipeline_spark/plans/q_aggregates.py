"""Aggregation operator coverage (SURVEY §2.5, §2.7, §2.8).

Each query re-expresses one aggregation pattern the reference implements in
Snowflake SQL (cited per query) as declarative DataFrame ops: hash aggregates
with automatic partial (map-side) aggregation, no UDAFs, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table, tune_scan_splits
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
    tune_scan_splits(spark, sf_dir, "lineitem")  # whole scan waves
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


# (hit_rate_ratios folded into distinct_counts below — round-4 registry
# rotation; the A4 ratio columns now ride the same per-event_type
# aggregate pass.)


def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT dedup (A5) + exact COUNT(DISTINCT) per group (A6) +
    NULLIF-guarded filtered-count hit-rate ratios (A4). Driver-checked as
    the 'dist' branch of `having_min_sample` since the round-5 second
    rotation (the `hit_rate_ratios` row was merged here in round 4; the
    ratio columns
    ride the same per-event_type aggregate pass, so the fold costs no
    extra scan): every distinct (event_type, user_id) pair annotated with
    its group's counts and over-rate.

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
    covers="A4,A5,A6,A7,A8",
    oracle=f"""
        SELECT 'hav' AS op, c_mktsegment AS g1,
               CAST(c_nationkey AS BIGINT) AS g2, {bcount('m1')},
               CAST(NULL AS BIGINT) AS m2, CAST(NULL AS BIGINT) AS m3,
               CAST(NULL AS BIGINT) AS m4, {dsum('c_acctbal', 'v')}
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
        HAVING COUNT(*) >= 10
        UNION ALL
        SELECT 'dist', d.event_type, d.user_id, u.unique_users, u.n_events,
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
def having_min_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING + GROUP BY ordinal (A7+A8), union-tagged with the
    DISTINCT / COUNT(DISTINCT) / hit-rate family (merged
    `distinct_counts`, round-5 second rotation — both are pure aggregate
    surfaces; the fold freed a driver slot, see q_projection).

    'hav' branch (merged A7+A8; formerly two registered queries — the
    registry sits at the driver's 50-query cap).

    Analog of `HAVING COUNT(*) >= 5/10/20`
    (`rpt_sog_props_performance.sql:73,104`) and `GROUP BY 1,2,...,7`
    (`fact_player_sog_props_v2.sql:71`). Runs through spark.sql
    deliberately (SURVEY §3.2 — analyst SQL must run unchanged): Spark
    honors ordinals via spark.sql.groupByOrdinal (default on) and places
    the HAVING filter after the aggregate. The decimal-exact sum uses the
    same string-bridge idiom as functions.scalars.dsum_double_sql.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    hav = spark.sql(
        """
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS STRING)
                    AS DOUBLE) AS total_balance
        FROM customer_v
        GROUP BY 1, 2
        HAVING COUNT(*) >= 10
        """
    ).select(
        F.lit("hav").alias("op"),
        F.col("c_mktsegment").alias("g1"),
        F.col("c_nationkey").cast("bigint").alias("g2"),
        F.col("n_customers").alias("m1"),
        F.lit(None).cast("bigint").alias("m2"),
        F.lit(None).cast("bigint").alias("m3"),
        F.lit(None).cast("bigint").alias("m4"),
        F.col("total_balance").alias("v"),
    )
    dist = distinct_counts(spark, sf_dir).select(
        F.lit("dist").alias("op"),
        F.col("event_type").alias("g1"),
        F.col("user_id").cast("bigint").alias("g2"),
        F.col("unique_users").alias("m1"),
        F.col("n_events").alias("m2"),
        F.col("n_over").alias("m3"),
        F.col("n_decided").alias("m4"),
        F.col("over_rate").alias("v"),
    )
    return hav.unionByName(dist)


# (null_profiling folded into profiling_aggregates below — round-4
# registry rotation; the A9 null profile is now the 'nulls' branch of the
# tagged profiling union.)

_NULL_PROFILE_COLS = ("event_id", "user_id", "event_type", "value", "props")


@query(
    "set_operations",
    covers="U1,U2,U-ext-intersect,U-ext-except",
    oracle=f"""
        SELECT user_id AS grp_key, metric_source AS op, metric_value,
               {bcount('n_copies')}
        FROM (
            SELECT user_id, 'click' AS metric_source, value AS metric_value
            FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT user_id, 'purchase' AS metric_source, value AS metric_value
            FROM events WHERE event_type = 'purchase'
        )
        GROUP BY user_id, metric_source, metric_value
        UNION ALL
        SELECT CAST(nationkey AS BIGINT), op,
               CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
        FROM (
            SELECT nationkey, 'intersect' AS op FROM (
                SELECT c_nationkey AS nationkey FROM customer
                INTERSECT
                SELECT s_nationkey FROM supplier
            )
            UNION ALL
            SELECT nationkey, 'except' AS op FROM (
                SELECT c_nationkey AS nationkey FROM customer
                EXCEPT
                SELECT s_nationkey FROM supplier
            )
        )
    """,
)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full set-operation family in one tagged result: UNION ALL with
    rename-alignment (U1), deduplicating UNION (U2), and the INTERSECT /
    EXCEPT dialect extensions (beyond the reference — SURVEY §2.8 notes it
    has neither), each branch tagged in `op`.

    Analogs: the 4-way home/away×position union
    (`stg_player_game_stats.sql:29-57`), the rename-for-compatibility union
    (`team_shot_locations.sql:117`), and dim_team's deduplicating UNION
    (`dim_team.sql:21`). unionByName guards against the positional-union
    column-swap bug; the groupBy-all-columns dedup keeps the UNION ALL
    multiplicity observable as n_copies (ALL and DISTINCT semantics in one
    plan: Union → two-phase hash aggregate, map-side partials combine
    before the shuffle). INTERSECT plans as a left-semi join after
    distinct, EXCEPT as a left-anti join (the J8 shape, reused by
    Catalyst); both share the same two scans. The final stitch is itself a
    rename-alignment union over disjoint shapes (nulled measure columns).
    """
    e = load_table(spark, sf_dir, "events")

    def side(event_type: str) -> DataFrame:
        return e.filter(F.col("event_type") == event_type).select(
            "user_id",
            F.lit(event_type).alias("metric_source"),
            F.col("value").alias("metric_value"),
        )

    uni = (
        side("click")
        .unionByName(side("purchase"))
        .groupBy("user_id", "metric_source", "metric_value")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .select(
            F.col("user_id").alias("grp_key"),
            F.col("metric_source").alias("op"),
            "metric_value",
            "n_copies",
        )
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    sets = (
        c.intersect(s)
        .withColumn("op", F.lit("intersect"))
        .unionByName(c.subtract(s).withColumn("op", F.lit("except")))
        .select(
            F.col("nationkey").cast("bigint").alias("grp_key"),
            "op",
            F.lit(None).cast("double").alias("metric_value"),
            F.lit(None).cast("bigint").alias("n_copies"),
        )
    )
    return uni.unionByName(sets)


@query(
    "profiling_aggregates",
    covers="A-ext-cube,A-ext-percentile,A9",
    oracle=f"""
        SELECT 'cube' AS op, o_orderstatus AS dim1, o_orderpriority AS dim2,
               {bcount('n')}, {dsum('o_totalprice', 'total')},
               CAST(NULL AS DOUBLE) AS p50, CAST(NULL AS DOUBLE) AS p90,
               CAST(NULL AS DOUBLE) AS p99
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
        UNION ALL
        SELECT 'percentile', event_type, CAST(NULL AS VARCHAR),
               CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
               {", ".join(
                   f"lo{p} + (COALESCE(hi{p}, lo{p}) - lo{p}) * fr{p}"
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
        UNION ALL
        SELECT 'nulls', cols.c, CAST(NULL AS VARCHAR), cols.n_nulls,
               CAST(t.n_rows AS DOUBLE), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        FROM (
            {" UNION ALL ".join(
                f'''SELECT '{c}' AS c,
                    CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_nulls FROM events'''
                for c in _NULL_PROFILE_COLS
            )}
        ) cols
        CROSS JOIN (SELECT count(*) AS n_rows FROM events) t
    """,
)
def profiling_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-profiling aggregates beyond the reference's surface, one
    tagged result (formerly cube_rollup_profile + percentile_profile +
    null_profiling, merged row-for-row): CUBE grouping sets over orders
    (SURVEY §2.5 notes the reference has none; a 100 TB profiling pipeline
    wants every marginal from one pass), exact interpolated percentiles
    per event type (explicit rank arithmetic mirrored in both engines —
    see the inline comment; the builtins drift 1 ulp at 1M rows; at
    100 TB prefer approx_percentile's t-digest), and the
    per-column null profile of events (A9 — analog of the time-travel
    validator's null profile, `src/nhl_pipeline/utils/
    time_travel_validator.py:126-160`, `query/validate_bronze.py:157-166`)
    as 'nulls' rows: dim1 = column name, n = null count, total = row
    count. The null branch is ONE aggregate pass producing a single row,
    unpivoted to rows via `stack` — no per-column rescans. The CUBE's own
    NULL margin dims stay distinguishable from the other branches via the
    op tag. Each branch is an independent scan→aggregate; the stitch is a
    rename-alignment union of disjoint shapes (nulled measure columns)."""
    o = load_table(spark, sf_dir, "orders")
    cube = (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(dsum_double_sql("o_totalprice")).alias("total"),
        )
        .select(
            F.lit("cube").alias("op"),
            F.col("o_orderstatus").alias("dim1"),
            F.col("o_orderpriority").alias("dim2"),
            "n",
            "total",
            F.lit(None).cast("double").alias("p50"),
            F.lit(None).cast("double").alias("p90"),
            F.lit(None).cast("double").alias("p99"),
        )
    )
    e = load_table(spark, sf_dir, "events")
    # Exact interpolated percentiles via EXPLICIT rank arithmetic, not the
    # builtin: Spark `percentile` and DuckDB `quantile_cont` implement the
    # same definition with differently-ordered float ops, and at sf1
    # (1M events) the p99 interpolation drifted 1 ulp between them
    # (caught by an sf1 parity sweep; bit-equal held through sf0.1).
    # Here BOTH engines evaluate the identical expression tree —
    # pos = p·(n−1); k = floor(pos); lo/hi = values at rank k+1/k+2;
    # lo + (coalesce(hi, lo) − lo)·(pos − k) — so every IEEE op matches
    # bit-for-bit at any scale. NULL values are filtered first (the
    # builtins ignore them; NULL ordering also differs between engines).
    from pyspark.sql.window import Window as W

    ranked = (
        e.filter(F.col("value").isNotNull())
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

    pct = (
        ranked.groupBy("event_type")
        .agg(*aggs)
        .select(
            F.lit("percentile").alias("op"),
            F.col("event_type").alias("dim1"),
            F.lit(None).cast("string").alias("dim2"),
            F.lit(None).cast("bigint").alias("n"),
            F.lit(None).cast("double").alias("total"),
            interp("50").alias("p50"),
            interp("90").alias("p90"),
            interp("99").alias("p99"),
        )
    )
    one = e.agg(
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"_null_{c}")
            for c in _NULL_PROFILE_COLS
        ],
        F.count(F.lit(1)).alias("_n_rows"),
    )
    stack_args = ", ".join(f"'{c}', _null_{c}" for c in _NULL_PROFILE_COLS)
    nulls = one.select(
        F.expr(
            f"stack({len(_NULL_PROFILE_COLS)}, {stack_args}) AS (dim1, n)"
        ),
        F.col("_n_rows"),
    ).select(
        F.lit("nulls").alias("op"),
        "dim1",
        F.lit(None).cast("string").alias("dim2"),
        "n",
        F.col("_n_rows").cast("double").alias("total"),
        F.lit(None).cast("double").alias("p50"),
        F.lit(None).cast("double").alias("p90"),
        F.lit(None).cast("double").alias("p99"),
    )
    return cube.unionByName(pct).unionByName(nulls)


