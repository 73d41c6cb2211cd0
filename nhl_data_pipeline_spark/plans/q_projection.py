"""Projection / filter / scalar-function coverage (SURVEY §2.2, §2.9).

The reference's P-operators are Snowflake VARIANT path projections, CASE
derivations, guarded arithmetic, and coordinate binning; its scalar surface
is the string/date family in SURVEY §2.9 with documented dialect traps
(SPLIT_PART negative index, DAYOFWEEK base, TO_CHAR names, GENERATOR spine).
Each query pins one family with the tested Spark equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.catalog import load_table
from nhl_data_pipeline_spark.functions.scalars import (
    accent_fold,
    nhl_season_code,
    split_part,
    sunday_zero_dow,
)
from nhl_data_pipeline_spark.operators import text as X
from nhl_data_pipeline_spark.operators import urls as U
from nhl_data_pipeline_spark.plans.registry import query
from nhl_data_pipeline_spark.plans.sqlgen import bcount


@query(
    "typed_projection_filter",
    covers="P1,P3",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice AS total_price, o_orderdate AS order_ts,
               o_orderpriority AS priority
        FROM orders
        WHERE o_orderstatus = 'F'
          AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    """,
)
def typed_projection_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed column projection + predicate filters (P1/P3): analog of the
    VARIANT path projection `stg_games.sql:11-30` and the completed-games
    filter `fact_game_results.sql:82-83`. Both the filter and the column
    pruning reach the parquet scan (PushedFilters / ReadSchema), pinned
    by `tests/test_plan_shape.py`."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_totalprice").alias("total_price"),
            F.col("o_orderdate").alias("order_ts"),
            F.col("o_orderpriority").alias("priority"),
        )
    )


@query(
    "json_path_extraction",
    covers="S6,A1",
    oracle=f"""
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               {bcount('n')}
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
        GROUP BY 1
    """,
)
def json_path_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction + cast from a raw string payload: analog of
    `payload:homeTeam.id::INT` VARIANT access (`stg_games.sql:11-30`)
    when the payload is kept as a raw JSON string (bronze fidelity);
    `get_json_object` is the schema-on-read path, while `from_json` with
    an explicit StructType is the typed path used by the NHL pipeline
    models."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        e.select(k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "case_conditional_projection",
    covers="P4",
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'F' THEN 'finished'
                    WHEN o_orderstatus = 'O' THEN 'open'
                    ELSE 'pending' END AS status_label,
               CASE WHEN o_totalprice >= 300000 THEN 'high'
                    WHEN o_totalprice >= 100000 THEN 'mid'
                    ELSE 'low' END AS price_band,
               CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END AS is_rush
        FROM orders
    """,
)
def case_conditional_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/conditional projection chains — analog of winner/result/
    shot_result derivations (`fact_game_results.sql:60-72`,
    `fact_shot_events.sql:93-117`)."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", "finished")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("pending")
        .alias("status_label"),
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("is_rush"),
    )


@query(
    "coordinate_binning",
    covers="P6,A1",
    oracle="""
        SELECT CAST(floor(abs(value) / 5) * 5 AS DOUBLE) AS value_bin,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1
    """,
)
def coordinate_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-unit coordinate binning — analog of shot-location binning
    `team_shot_locations.sql:17-23` (ROUND(ABS(x)/5)*5). Binning uses
    floor() rather than round(): a 2-dp input divided by 5 lands exactly
    on .5 ties (12.50/5 = 2.5) where engines' round() tie-breaking
    diverges, while floor() is tie-free — and half-open bins are the
    semantics a histogram wants anyway."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            (F.floor(F.abs(F.col("value")) / 5) * 5).cast("double").alias("value_bin")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "derived_metrics_guarded",
    covers="P5",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount) AS revenue,
               l_extendedprice - l_quantity * (l_extendedprice / l_quantity) AS price_residual,
               CASE WHEN l_quantity > 0
                    THEN l_extendedprice / l_quantity
                    ELSE 0.0 END AS unit_price,
               l_extendedprice * l_discount AS discount_amount
        FROM lineitem
        WHERE l_linenumber <= 3
    """,
)
def derived_metrics_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-metric projection with divide-by-zero guards.

    Analog of goal_differential / shooting_pct-with-guard
    (`fact_team_game_stats.sql:135-147`). Per-row IEEE double arithmetic —
    deterministic, stays in whole-stage codegen.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 3)
    ep, q, d = F.col("l_extendedprice"), F.col("l_quantity"), F.col("l_discount")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (ep * (1 - d)).alias("revenue"),
        (ep - q * (ep / q)).alias("price_residual"),
        F.when(q > 0, ep / q).otherwise(F.lit(0.0)).alias("unit_price"),
        (ep * d).alias("discount_amount"),
    )


@query(
    "scalar_functions",
    covers="§2.9-string,J5-keys",
    oracle="""
        SELECT c_custkey,
               upper(trim(c_name)) AS name_upper,
               (string_split(c_name, ' '))[-1] AS last_token,
               left(c_name, 1) AS first_initial,
               translate(c_name,
                 'ÁÀÂÃÄÅáàâãäåÉÈÊËéèêëÍÌÎÏíìîïÓÒÔÕÖóòôõöÚÙÛÜúùûüÇçÑñÝýÿ',
                 'AAAAAAaaaaaaEEEEeeeeIIIIiiiiOOOOOoooooUUUUuuuuCcNnYyy') AS folded,
               COALESCE(regexp_extract(c_name, '([0-9]+)', 1), '') AS digits,
               CAST(length(c_name) AS INT) AS name_len,
               c_name || '#' || CAST(c_nationkey AS STRING) AS name_nation
        FROM customer
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.9 string-function surface: UPPER/TRIM/LEFT/SPLIT_PART(-1)/
    accent-fold/REGEXP_SUBSTR/LENGTH/CONCAT — the exact key-derivation
    toolkit of the entity-resolution crosswalk
    (`stg_player_name_crosswalk.sql:25-47`) and fuzzy join J5
    (`fact_player_sog_props_v2.sql:115-128`)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper(F.trim(F.col("c_name"))).alias("name_upper"),
        split_part(F.col("c_name"), " ", -1).alias("last_token"),
        F.substring(F.col("c_name"), 1, 1).alias("first_initial"),
        accent_fold(F.col("c_name")).alias("folded"),
        F.regexp_extract(F.col("c_name"), "([0-9]+)", 1).alias("digits"),
        F.length(F.col("c_name")).alias("name_len"),
        F.concat(
            F.col("c_name"), F.lit("#"), F.col("c_nationkey").cast("string")
        ).alias("name_nation"),
    )


@query(
    "date_interval_functions",
    covers="§2.9-date,§2.9-interval,P3",
    oracle="""
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INT) AS yr,
               CAST(month(o_orderdate) AS INT) AS mo,
               CAST(date_part('day', o_orderdate) AS INT) AS dom,
               CAST(date_part('dow', o_orderdate) AS INT) AS dow_sunday0,
               CAST(date_part('doy', o_orderdate) AS INT) AS doy,
               CAST(date_part('week', o_orderdate) AS INT) AS iso_week,
               monthname(o_orderdate) AS month_name,
               dayname(o_orderdate) AS day_name,
               CAST(CAST(o_orderdate AS DATE) + 7 AS TIMESTAMP) AS plus_week_ts,
               o_orderdate AS order_ts
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-09-02 00:00:00' - INTERVAL 400 DAY
    """,
)
def date_interval_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The date-part family with the Snowflake DAYOFWEEK (0=Sunday) base
    over an INTERVAL-arithmetic recency filter — the dim_date derivations
    (`dim_date.sql:45-56`) and the `CURRENT_DATE - INTERVAL '15 days'`
    filter (`team_shot_example_queries.sql:193`; "today" is an injected
    constant per SURVEY §7.3.4). Spark's dayofweek() is 1-based Sunday,
    Snowflake's 0-based — sunday_zero_dow pins the reference semantics
    (also DuckDB's 'dow'). The interval filter folds to a literal and
    reaches the parquet scan as a pushed predicate."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    anchor = F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
    return o.filter(d >= anchor - F.expr("INTERVAL 400 DAY")).select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        sunday_zero_dow(d).alias("dow_sunday0"),
        F.dayofyear(d).alias("doy"),
        F.weekofyear(d).alias("iso_week"),
        F.date_format(d, "MMMM").alias("month_name"),
        F.date_format(d, "EEEE").alias("day_name"),
        F.date_add(d.cast("date"), 7).cast("timestamp_ntz").alias("plus_week_ts"),
        d.alias("order_ts"),
    )


@query(
    "pii_redaction",
    covers="LLM-pii-redaction",
    oracle=f"""
        SELECT c_custkey,
               {X.redact_pii_sql('contact')} AS contact_redacted,
               {X.pii_hits_sql('contact')} AS pii_n
        FROM (
            SELECT c_custkey, concat_ws(' ', c_name,
                '<' || translate(lower(c_name), '#', '.') || '@example.org>',
                'ip', '10.' || CAST(c_custkey % 251 AS VARCHAR)
                    || '.' || CAST(c_custkey % 17 AS VARCHAR)
                    || '.' || CAST(c_custkey % 256 AS VARCHAR),
                'ssn', lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
                    || '-' || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0')
                    || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0'),
                'tel', '555-' || lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0')
                    || '-' || lpad(CAST((c_custkey * 13) % 10000 AS VARCHAR), 4, '0')
            ) AS contact
            FROM customer
        ) pii_src
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data redaction pass (operators.text.redact_pii —
    email/IPv4/SSN/phone → typed tags, a JVM regexp_replace chain in
    whole-stage codegen) plus the pii_hits audit count, over contact
    strings synthesized deterministically from customer rows (email from
    the name, phone/SSN/IP from the key) so the chain has real spans to
    scrub; the oracle applies the literally-identical regexes in DuckDB,
    hash-checking cross-engine regex semantics on every row."""
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    s = lambda col: col.cast("string")  # noqa: E731
    email = F.concat(
        F.translate(F.lower(F.col("c_name")), "#", "."), F.lit("@example.org")
    )
    phone = F.concat(
        F.lit("555-"), F.lpad(s((k * 7) % 1000), 3, "0"),
        F.lit("-"), F.lpad(s((k * 13) % 10000), 4, "0"),
    )
    ssn = F.concat(
        F.lpad(s(k % 1000), 3, "0"), F.lit("-"),
        F.lpad(s(k % 100), 2, "0"), F.lit("-"),
        F.lpad(s(k % 10000), 4, "0"),
    )
    ip = F.concat(
        F.lit("10."), s(k % 251), F.lit("."), s(k % 17), F.lit("."), s(k % 256)
    )
    contact = F.concat_ws(
        " ", F.col("c_name"), F.concat(F.lit("<"), email, F.lit(">")),
        F.lit("ip"), ip, F.lit("ssn"), ssn, F.lit("tel"), phone,
    )
    return c.select(
        "c_custkey",
        X.redact_pii(contact).alias("contact_redacted"),
        X.pii_hits(contact).alias("pii_n"),
    )


@query(
    "url_canonicalization",
    covers="LLM-url-dedup",
    oracle=f"""
        SELECT c_custkey, {U.canonical_url_sql('raw')} AS canon_url
        FROM (
            SELECT c_custkey,
                   (CASE WHEN c_custkey % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END
                    || CASE WHEN c_custkey % 3 = 0 THEN 'Shop.Example.COM'
                            ELSE 'shop.example.com' END
                    || CASE WHEN c_custkey % 5 = 0 THEN ':443' ELSE '' END
                    || '/item/' || CAST(c_custkey AS VARCHAR)
                    || CASE WHEN c_custkey % 4 = 0 THEN '/' ELSE '' END
                    || CASE WHEN c_custkey % 7 = 0
                            THEN '?utm_source=mail&x=' || CAST(c_custkey % 10 AS VARCHAR)
                            WHEN c_custkey % 7 = 1
                            THEN '?x=' || CAST(c_custkey % 10 AS VARCHAR) || '&utm_campaign=2'
                            ELSE '' END
                    || CASE WHEN c_custkey % 11 = 0 THEN '#frag' ELSE '' END) AS raw
            FROM customer
        ) url_src
    """,
)
def url_canonicalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-dedup URL canonicalization (operators.urls — scheme/host
    lowering, fragment + tracking-param strip, default-port and non-root
    trailing-slash removal) over deterministically-messy URLs (casing,
    default port, trailing slash, tracking params, fragment, all keyed
    off c_custkey); the same RE2-subset patterns run in both engines."""
    k = F.col("c_custkey")
    s = lambda col: col.cast("string")  # noqa: E731
    raw_url = F.concat(
        F.when(k % 2 == 0, F.lit("HTTPS://")).otherwise(F.lit("https://")),
        F.when(k % 3 == 0, F.lit("Shop.Example.COM")).otherwise(
            F.lit("shop.example.com")
        ),
        F.when(k % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/item/"), s(k),
        F.when(k % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(k % 7 == 0, F.concat(F.lit("?utm_source=mail&x="), s(k % 10)))
        .when(k % 7 == 1, F.concat(F.lit("?x="), s(k % 10), F.lit("&utm_campaign=2")))
        .otherwise(F.lit("")),
        F.when(k % 11 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", U.canonical_url(raw_url).alias("canon_url")
    )


@query(
    "date_spine_seasons",
    covers="W7,§2.9-generator,§2.9-season",
    oracle="""
        SELECT range AS id,
               CAST(DATE '2020-01-01' + CAST(range AS INT) AS TIMESTAMP) AS spine_ts,
               CAST(year(DATE '2020-01-01' + CAST(range AS INT)) AS INT) AS yr,
               CAST(quarter(DATE '2020-01-01' + CAST(range AS INT)) AS INT) AS qtr,
               CASE WHEN date_part('dow', DATE '2020-01-01' + CAST(range AS INT)) IN (0, 6)
                    THEN TRUE ELSE FALSE END AS is_weekend,
               CASE WHEN month(DATE '2020-01-01' + CAST(range AS INT)) >= 10
                    THEN year(DATE '2020-01-01' + CAST(range AS INT)) * 10000
                         + (year(DATE '2020-01-01' + CAST(range AS INT)) + 1)
                    ELSE (year(DATE '2020-01-01' + CAST(range AS INT)) - 1) * 10000
                         + year(DATE '2020-01-01' + CAST(range AS INT))
               END AS season_code
        FROM range(0, 2500)
    """,
)
def date_spine_seasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated 2,500-day date spine with calendar flags + NHL season code.

    Replaces Snowflake `TABLE(GENERATOR(ROWCOUNT=>2500))` + `SEQ4()`
    (`dim_date.sql:12-28`) with `spark.range` — a parallel, shuffle-free
    source — and applies dim_date's is_weekend-style flags
    (`dim_date.sql:84-110`) plus the shared NHL season-code derivation
    (Oct→new season; `dim_date.sql:62-71` / `player_shot_metrics.sql:17-21`)
    exactly as the reference's dim_date builds its season column off the
    generated spine.
    """
    spine = spark.range(0, 2500)
    d = F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int"))
    dow = sunday_zero_dow(d)
    return spine.select(
        "id",
        d.cast("timestamp_ntz").alias("spine_ts"),
        F.year(d).alias("yr"),
        F.quarter(d).alias("qtr"),
        dow.isin(0, 6).alias("is_weekend"),
        nhl_season_code(d).alias("season_code"),
    )


@query(
    "robust_ingest_census",
    covers="S-ext-robust-ingest,LLM-quarantine,LLM-drift-census",
    oracle="""
        SELECT 'good' AS op, doc_id, CAST(length(text) AS BIGINT) AS text_len,
               n_chars, CAST(NULL AS VARCHAR) AS label
        FROM documents WHERE doc_id % 37 <> 0
        UNION ALL
        SELECT 'quar', doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS VARCHAR)
        FROM documents WHERE doc_id % 37 = 0
        UNION ALL
        SELECT 'census', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               n_present, field
        FROM (
            SELECT 'doc_id' AS field, CAST(COUNT(doc_id) AS BIGINT) AS n_present
            FROM documents WHERE doc_id % 37 <> 0
            UNION ALL
            SELECT 'n_chars', CAST(COUNT(n_chars) AS BIGINT)
            FROM documents WHERE doc_id % 37 <> 0
            UNION ALL
            SELECT 'text', CAST(COUNT(text) AS BIGINT)
            FROM documents WHERE doc_id % 37 <> 0
        )
    """,
)
def robust_ingest_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust JSON ingest (`sources/robust.py`): serialize the
    documents table to JSON lines with a deterministic corruption rule
    (doc_id % 37 == 0 → a '{' is prepended, so the line cannot parse as
    JSON regardless of the record's field content — robust even to docs
    whose nullable fields are omitted by to_json, and it leaves the
    doc_id digits intact for the quarantine-branch re-extraction), run
    the one-scan PERMISSIVE quarantine split, and emit good rows +
    quarantined ids + the field census of the good side. The three
    branches stay one union-tagged query because all read the one cached
    quarantine split.

    The oracle predicts all three branches straight from the parquet
    table: good rows must round-trip text EXACTLY (text_len equality is
    part of the hash), quarantined lines are identified by the injected
    rule (ids re-extracted from the raw line, which the quarantine keeps
    verbatim for replay), and the census counts non-null fields among
    parsed rows. Analog of the bronze validation profile
    (`query/validate_bronze.py:65-84`) run over a feed with a broken
    producer.
    """
    import hashlib

    from pyspark.sql import types as T

    from nhl_data_pipeline_spark.sources.robust import (
        drift_report,
        read_json_quarantine,
    )

    import os

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "text"
    )
    line = F.to_json(F.struct("doc_id", "n_chars", "text"))
    corrupted = F.when(
        F.col("doc_id") % 37 == 0, F.concat(F.lit("{"), F.col("_line"))
    ).otherwise(F.col("_line"))
    # Key the serialized corpus on the SOURCE file's identity (path +
    # size + mtime), not just the path: regenerating the testdata in
    # place must invalidate the cache, or the engine would parse a stale
    # corpus while the oracle reads the new parquet.
    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    path = "/tmp/nhl_spark_robust_census_" + hashlib.md5(
        f"{src}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:16]
    # The serialization is a pure function of the source table, so the
    # write runs once per sf_dir and later calls (fingerprint tool,
    # parity tests, the driver) reuse it — this is the only registered
    # query with a construction-time job, and skipping the rewrite keeps
    # plan-only consumers I/O-free after the first call. Driver-local
    # existence check: probe/test scaffolding, local-FS semantics.
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            d.withColumn("_line", line)
            .select(corrupted.alias("value"))
            .write.mode("overwrite")
            .text(path)
        )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    # The split's .cache() (required for the corrupt-column workaround,
    # see sources/robust.py) is left in place: CacheManager dedupes on
    # logical-plan equality, so repeated calls against the same path
    # pin ONE small parsed frame, not one per call.
    split = read_json_quarantine(spark, path, schema)
    good = split.good.select(
        F.lit("good").alias("op"),
        "doc_id",
        F.length("text").cast("bigint").alias("text_len"),
        "n_chars",
        F.lit(None).cast("string").alias("label"),
    )
    quar = split.quarantined.select(
        F.lit("quar").alias("op"),
        F.regexp_extract("raw", r'"doc_id":(\d+)', 1)
        .cast("bigint")
        .alias("doc_id"),
        F.lit(None).cast("bigint").alias("text_len"),
        F.lit(None).cast("bigint").alias("n_chars"),
        F.lit(None).cast("string").alias("label"),
    )
    census = drift_report(split.good).select(
        F.lit("census").alias("op"),
        F.lit(None).cast("bigint").alias("doc_id"),
        F.lit(None).cast("bigint").alias("text_len"),
        F.col("n_present").cast("bigint").alias("n_chars"),
        F.col("field").alias("label"),
    )
    return good.unionByName(quar).unionByName(census)
