"""Staging models: typed, deduped, flattened views over bronze snapshots.

Reference: dbt_nhl/models/staging/*. Payloads arrive as raw JSON strings
(bronze fidelity); every model parses with an explicit schema via from_json
— never inferSchema — then applies the latest-snapshot-wins dedup (W1)
before any flatten, preserving the reference's order of operations
(.context/DECISIONS.md:289-320).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nhl_data_pipeline_spark.nhl import schemas


def latest_snapshot(df: DataFrame, key: str | Column) -> DataFrame:
    """W1: keep the newest snapshot per entity.

    `QUALIFY ROW_NUMBER() OVER (PARTITION BY payload:id ORDER BY
    partition_date DESC, s3_key DESC) = 1` (stg_games.sql:32). s3_key is
    the deterministic tiebreak — removing it makes results flap
    (SURVEY §7.3.2). At scale: project needed columns before calling this
    so the shuffle moves narrow rows.
    """
    w = Window.partitionBy(key).orderBy(F.desc("partition_date"), F.desc("s3_key"))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def parse_boxscore(raw: DataFrame) -> DataFrame:
    return raw.withColumn("p", F.from_json("payload", schemas.boxscore_payload()))


def stg_games(boxscore_raw: DataFrame) -> DataFrame:
    """Typed game header from the latest boxscore snapshot per game.

    Column list per stg_games.sql:11-30 (VARIANT path + ::CAST becomes
    struct access + cast).
    """
    p = parse_boxscore(boxscore_raw)
    deduped = latest_snapshot(p, "game_id")
    return deduped.select(
        F.col("p.id").alias("game_id"),
        F.col("p.season").alias("season"),
        F.col("p.gameType").alias("game_type"),
        F.to_date("p.gameDate").alias("game_date"),
        F.col("p.gameState").alias("game_state"),
        F.col("p.venue.default").alias("venue_name"),
        F.col("p.periodDescriptor.number").alias("final_period"),
        F.col("p.homeTeam.id").alias("home_team_id"),
        F.col("p.homeTeam.abbrev").alias("home_team_abbrev"),
        F.col("p.homeTeam.name.default").alias("home_team_name"),
        F.col("p.homeTeam.placeName.default").alias("home_team_place"),
        F.col("p.homeTeam.commonName.default").alias("home_team_common"),
        F.col("p.homeTeam.score").alias("home_score"),
        F.col("p.homeTeam.sog").alias("home_sog"),
        F.col("p.awayTeam.id").alias("away_team_id"),
        F.col("p.awayTeam.abbrev").alias("away_team_abbrev"),
        F.col("p.awayTeam.name.default").alias("away_team_name"),
        F.col("p.awayTeam.placeName.default").alias("away_team_place"),
        F.col("p.awayTeam.commonName.default").alias("away_team_common"),
        F.col("p.awayTeam.score").alias("away_score"),
        F.col("p.awayTeam.sog").alias("away_sog"),
        "partition_date",
        "s3_key",
    )


def stg_player_game_stats(boxscore_raw: DataFrame) -> DataFrame:
    """One row per (game, player): the 4-way home/away × forwards/defense
    flatten (stg_player_game_stats.sql:20-77).

    Spark-first shape: instead of the reference's 4 UNION ALL scans of the
    same table, tag each of the four arrays with (side, position_type) via
    transform, concat them, and explode ONCE — a single pass over bronze.
    Null playerId rows are dropped (stg_player_game_stats.sql:78).
    """
    p = parse_boxscore(boxscore_raw)
    deduped = latest_snapshot(p, "game_id")

    def tagged(side: str, pos: str) -> Column:
        arr = F.col(f"p.playerByGameStats.{side}Team.{'forwards' if pos == 'F' else 'defense'}")
        return F.transform(
            F.coalesce(arr, F.array()),
            lambda pl: F.struct(
                F.lit(side).alias("home_away"),
                F.lit(pos).alias("position_type"),
                pl.alias("stats"),
            ),
        )

    combined = F.concat(
        tagged("home", "F"), tagged("home", "D"), tagged("away", "F"), tagged("away", "D")
    )
    ex = deduped.select(
        F.col("p.id").alias("game_id"),
        F.to_date("p.gameDate").alias("game_date"),
        F.col("p.season").alias("season"),
        F.col("p.gameState").alias("game_state"),
        F.col("p.homeTeam.id").alias("home_team_id"),
        F.col("p.awayTeam.id").alias("away_team_id"),
        F.explode(combined).alias("e"),
        "partition_date",
        "s3_key",
    )
    s = F.col("e.stats")
    return ex.filter(s["playerId"].isNotNull()).select(
        "game_id",
        "game_date",
        "season",
        "game_state",
        s["playerId"].alias("player_id"),
        s["name"]["default"].alias("player_name"),
        s["position"].alias("position_code"),
        F.col("e.position_type").alias("position_type"),
        F.col("e.home_away").alias("home_away"),
        F.when(F.col("e.home_away") == "home", F.col("home_team_id"))
        .otherwise(F.col("away_team_id"))
        .alias("team_id"),
        F.when(F.col("e.home_away") == "home", F.col("away_team_id"))
        .otherwise(F.col("home_team_id"))
        .alias("opponent_team_id"),
        s["goals"].alias("goals"),
        s["assists"].alias("assists"),
        s["points"].alias("points"),
        s["plusMinus"].alias("plus_minus"),
        s["sog"].alias("shots_on_goal"),
        s["pim"].alias("penalty_minutes"),
        s["powerPlayGoals"].alias("power_play_goals"),
        s["shorthandedGoals"].alias("shorthanded_goals"),
        s["hits"].alias("hits"),
        s["blockedShots"].alias("blocked_shots"),
        s["giveaways"].alias("giveaways"),
        s["takeaways"].alias("takeaways"),
        s["faceoffWinningPctg"].alias("faceoff_pct"),
        s["toi"].alias("toi"),
        s["shifts"].alias("shifts"),
    )


def stg_schedule_games(schedule_raw: DataFrame) -> DataFrame:
    """Two-level flatten gameWeek[] → games[] of the LATEST schedule
    snapshot (bruins_next_opponent.sql:11-33: ORDER BY ingest_ts DESC
    LIMIT 1, then double LATERAL FLATTEN), with s3_key DESC breaking
    ingest_ts ties. Sort + limit plans as TakeOrderedAndProject: a top-1
    per partition, so only one row per partition reaches the final merge
    (an unpartitioned row_number window moves every snapshot through one
    task)."""
    latest = schedule_raw.orderBy(F.desc("ingest_ts"), F.desc("s3_key")).limit(1)
    p = latest.withColumn("p", F.from_json("payload", schemas.schedule_payload()))
    day = p.select(F.col("ingest_ts"), F.explode("p.gameWeek").alias("day"))
    g = day.select(
        "ingest_ts",
        F.to_date("day.date").alias("game_date"),
        F.explode("day.games").alias("g"),
    )
    return g.select(
        "ingest_ts",
        "game_date",
        F.col("g.id").alias("game_id"),
        F.col("g.gameState").alias("game_state"),
        F.col("g.gameType").alias("game_type"),
        F.col("g.startTimeUTC").alias("start_time_utc"),
        F.col("g.homeTeam.id").alias("home_team_id"),
        F.col("g.homeTeam.abbrev").alias("home_team_abbrev"),
        F.col("g.awayTeam.id").alias("away_team_id"),
        F.col("g.awayTeam.abbrev").alias("away_team_abbrev"),
    )


def stg_odds_player_props(odds_raw: DataFrame) -> DataFrame:
    """Three-level flatten bookmakers[] → markets[] → outcomes[] →
    one row per (event, bookmaker, player, bet side)
    (stg_odds_player_props.sql:36-91), latest snapshot per event first,
    null player names dropped (:110)."""
    p = odds_raw.withColumn("p", F.from_json("payload", schemas.odds_payload()))
    deduped = latest_snapshot(p, "event_id")
    bk = deduped.select(
        "event_id",
        "partition_date",
        F.to_timestamp(F.col("p.extracted_at")).alias("extracted_at"),
        F.col("p.home_team").alias("home_team_name"),
        F.col("p.away_team").alias("away_team_name"),
        F.to_timestamp(F.col("p.data.commence_time")).alias("commence_time"),
        F.explode("p.data.bookmakers").alias("b"),
    )
    mk = bk.select(
        "event_id",
        "partition_date",
        "extracted_at",
        "home_team_name",
        "away_team_name",
        "commence_time",
        F.col("b.key").alias("bookmaker_key"),
        F.col("b.title").alias("bookmaker_title"),
        F.explode("b.markets").alias("m"),
    ).filter(F.col("m.key") == "player_shots_on_goal")
    oc = mk.select(
        "event_id",
        "partition_date",
        "extracted_at",
        "home_team_name",
        "away_team_name",
        "commence_time",
        "bookmaker_key",
        "bookmaker_title",
        F.col("m.key").alias("market"),
        F.to_timestamp(F.col("m.last_update")).alias("line_last_update"),
        F.explode("m.outcomes").alias("o"),
    )
    return oc.filter(F.col("o.description").isNotNull()).select(
        "event_id",
        "partition_date",
        "extracted_at",
        "home_team_name",
        "away_team_name",
        "commence_time",
        "bookmaker_key",
        "bookmaker_title",
        "market",
        "line_last_update",
        F.col("o.name").alias("bet_type"),
        F.col("o.description").alias("odds_player_name"),
        F.col("o.point").alias("line_value"),
        F.col("o.price").alias("odds_american"),
        # Reference-schema aliases (stg_odds_player_props.sql:95-110):
        # the reference's analyst worksheet reads player_name / home_team /
        # away_team / bookmaker_name — a reference user's SQL must run
        # unchanged against this model. Internal names stay for the rest
        # of the DAG.
        F.col("o.description").alias("player_name"),
        F.col("home_team_name").alias("home_team"),
        F.col("away_team_name").alias("away_team"),
        F.col("bookmaker_title").alias("bookmaker_name"),
        # the reference's odds BRONZE carries game_date from the ingestion
        # path metadata (stg_odds_player_props.sql:15); our lake keys the
        # same fact off the commence timestamp — identical value by
        # construction (fact_player_sog_props_v2 resolves games with it)
        F.to_date("commence_time").alias("game_date"),
    )
