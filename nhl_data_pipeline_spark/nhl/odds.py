"""Odds vertical: name crosswalk, SOG props fact, performance report.

Reference: dbt_nhl/models/staging/stg_player_name_crosswalk.sql,
silver/fact_player_sog_props_v2.sql, rpt_sog_props_performance.sql.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nhl_data_pipeline_spark.functions.scalars import accent_fold, split_part


def stg_player_name_crosswalk(
    stg_odds_player_props: DataFrame, dim_player: DataFrame
) -> DataFrame:
    """Multi-strategy odds-name → roster-player resolution
    (stg_player_name_crosswalk.sql:66-139).

    Three strategies of decreasing confidence; a name takes the matches of
    the best strategy that matches it at all (the reference cascades them
    with NOT IN):
      1.00 exact (case/trim-insensitive)
      0.95 accent-folded
      0.85 first-initial + last-token, only when unambiguous
           (COUNT(*) OVER (PARTITION BY odds_name) = 1 guard, :111)
    then best match per odds name by confidence (W2, :133-136).

    One equi-join computes all three: both sides explode to a
    ``(_lvl, _key)`` row per strategy, and one window per name keeps the
    rows at its lowest matched level.
    """
    odds_names = stg_odds_player_props.select("odds_player_name").distinct()
    # current_team_abbrev rides the roster broadcast — the
    # reference-schema column costs no extra join.
    if "current_team_abbrev" in dim_player.columns:
        roster = dim_player.select(
            "player_id", "player_name", "current_team_abbrev"
        )
    else:
        roster = dim_player.select("player_id", "player_name").withColumn(
            "current_team_abbrev", F.lit(None).cast("string")
        )

    up = lambda c: F.upper(F.trim(c))  # noqa: E731
    fold = lambda c: up(accent_fold(c))  # noqa: E731
    key3 = lambda c: F.concat(  # noqa: E731
        F.substring(fold(c), 1, 1), F.lit("|"), F.upper(split_part(fold(c), " ", -1))
    )
    # Strategy levels 1-3, best first.
    keys = (up, fold, key3)

    def keyed(df: DataFrame, name: str) -> DataFrame:
        return df.select("*", F.inline(F.array(*[
            F.struct(F.lit(lvl).alias("_lvl"), key(F.col(name)).alias("_key"))
            for lvl, key in enumerate(keys, 1)
        ])))

    matched = keyed(odds_names, "odds_player_name").join(
        F.broadcast(keyed(roster, "player_name")), ["_lvl", "_key"]
    )
    # Ambiguity guard: an initial_last name must resolve to one player.
    w_name = Window.partitionBy("odds_player_name")
    w_best = w_name.orderBy(F.asc("player_name"))
    best = (
        matched.select(
            "*",
            F.min("_lvl").over(w_name).alias("_min"),
            F.count(F.when(F.col("_lvl") == 3, 1)).over(w_name).alias("_n3"),
        )
        .filter(
            (F.col("_lvl") == F.col("_min"))
            & ((F.col("_min") < 3) | (F.col("_n3") == 1))
        )
        .withColumn("_rn", F.row_number().over(w_best))
        .filter(F.col("_rn") == 1)
    )
    lvl = F.col("_lvl")
    best = best.select(
        "odds_player_name", "player_id", "player_name", "current_team_abbrev",
        F.when(lvl == 1, 1.0).when(lvl == 2, 0.95).otherwise(0.85)
        .alias("match_confidence"),
        F.when(lvl == 1, "exact").when(lvl == 2, "accent_normalized")
        .otherwise("initial_last").alias("match_strategy"),
    )
    # Reference-schema aliases alongside the internal names: the
    # reference's own worksheet (dbt_nhl/analysis/odds_matching_queries.sql)
    # and its model contract (stg_player_name_crosswalk.sql:128-136) read
    # nhl_player_name / match_method / confidence / current_team_abbrev —
    # a reference user's downstream SQL must run unchanged.
    return best.select(
        "*",
        F.col("player_name").alias("nhl_player_name"),
        F.when(F.col("match_strategy") == "accent_normalized", "normalized")
        .otherwise(F.col("match_strategy"))
        .alias("match_method"),
        F.col("match_confidence").alias("confidence"),
    )


BOOKMAKER_PRIORITY = ["draftkings", "fanduel", "betmgm", "caesars"]


def fact_player_sog_props_v2(
    stg_odds_player_props: DataFrame,
    crosswalk: DataFrame,
    fact_player_game_stats: DataFrame,
    stg_games: DataFrame,
) -> DataFrame:
    """Best line per (event, player) vs actual shots on goal
    (fact_player_sog_props_v2.sql:33-253).

    - bookmaker preference rank (CASE priority, then line freshness) → one
      line per player-event (W2, :33-53);
    - Over/Under pivot via conditional MAX (A3, :57-71);
    - game resolution: commence date + home team name (the odds feed has no
      game_id — entity resolution, not key join);
    - crosswalk → player_id; point-in-time guard: the actual must come from
      the game the line references (J5 semantics, :115-128);
    - outcome classification over/under/push/pending/unmatched (:224-237);
    - implied probability from American odds (:241-253).
    """
    pref = F.coalesce(
        *[
            F.when(F.col("bookmaker_key") == b, F.lit(i + 1))
            for i, b in enumerate(BOOKMAKER_PRIORITY)
        ],
        F.lit(9),
    )
    w_book = Window.partitionBy("event_id", "odds_player_name", "bet_type").orderBy(
        pref.asc(), F.desc("line_last_update"), F.asc("bookmaker_key")
    )
    best = (
        stg_odds_player_props.withColumn("_rn", F.row_number().over(w_book))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # game_date rides the ODDS side through the pivot (it is
    # to_date(commence_time), functionally dependent on the groupBy key):
    # the reference sources the fact's game_date from the odds bronze
    # partition (`stg_odds_player_props.sql:15,24` → selected at
    # `fact_player_sog_props_v2.sql:21,59`), NOT from the games join — so
    # a pending prop whose game is not yet in stg_games still has a
    # non-null game_date, which the reference dbt suite asserts.
    pivoted = best.groupBy(
        "event_id",
        "odds_player_name",
        "home_team_name",
        "away_team_name",
        "commence_time",
        "game_date",
    ).agg(
        F.max(F.when(F.col("bet_type") == "Over", F.col("line_value"))).alias("line_value"),
        F.max(F.when(F.col("bet_type") == "Over", F.col("odds_american"))).alias("over_odds"),
        F.max(F.when(F.col("bet_type") == "Under", F.col("odds_american"))).alias("under_odds"),
        F.max(F.when(F.col("bet_type") == "Over", F.col("bookmaker_key"))).alias("bookmaker_key"),
    )
    games = stg_games.select(
        F.col("game_id"),
        F.col("game_date").alias("_g_game_date"),
        F.col("home_team_name"),
        F.col("game_state"),
    )
    with_game = (
        pivoted.join(
            F.broadcast(games),
            (pivoted.game_date == games._g_game_date)
            & (pivoted.home_team_name == games.home_team_name),
            "left",
        )
        .drop(games.home_team_name)
        .drop("_g_game_date")
    )
    xw = crosswalk.select(
        "odds_player_name",
        "player_id",
        "match_confidence",
        "match_strategy",
        "player_name",
        "current_team_abbrev",
    )
    with_player = with_game.join(F.broadcast(xw), "odds_player_name", "left")
    actuals = fact_player_game_stats.select(
        "game_id", "player_id", F.col("shots_on_goal").alias("actual_sog")
    )
    j = with_player.join(actuals, ["game_id", "player_id"], "left")
    implied = (
        F.when(
            F.col("over_odds") < 0,
            -F.col("over_odds").cast("double") / (-F.col("over_odds") + 100),
        )
        .when(
            F.col("over_odds") > 0, 100.0 / (F.col("over_odds") + 100)
        )
        .cast("double")
    )
    outcome = (
        F.when(F.col("player_id").isNull(), "unmatched")
        .when(F.col("game_state").isNull() | (F.col("game_state") != "OFF"), "pending")
        .when(F.col("actual_sog").isNull(), "pending")
        .when(F.col("actual_sog") > F.col("line_value"), "over")
        .when(F.col("actual_sog") < F.col("line_value"), "under")
        .otherwise("push")
    )
    return j.select(
        "event_id",
        "game_id",
        "game_date",
        "odds_player_name",
        "player_id",
        "match_confidence",
        "bookmaker_key",
        "line_value",
        "over_odds",
        "under_odds",
        implied.alias("over_implied_prob"),
        "actual_sog",
        outcome.alias("outcome"),
        # reference-schema names (fact_player_sog_props_v2.sql:181-248):
        # the analyst worksheet reads these — both spellings ship so
        # internal consumers (rpt/report/corpus) stay untouched.
        F.when(F.col("match_strategy") == "accent_normalized", "normalized")
        .otherwise(F.col("match_strategy"))
        .alias("match_method"),
        F.col("player_name").alias("nhl_player_name"),
        F.col("current_team_abbrev").alias("team_abbrev"),
        F.col("line_value").alias("sog_line"),
        (F.col("actual_sog") - F.col("line_value")).alias("sog_vs_line"),
    )


def rpt_sog_props_performance(fact_player_sog_props_v2: DataFrame) -> DataFrame:
    """Hit-rate report per line value (rpt_sog_props_performance.sql:25-118):
    filtered counts, NULLIF-guarded over rate, HAVING min-sample filter.
    Tagged with the reference's analysis_type discriminator
    (rpt_sog_props_performance.sql:122 — its dbt suite asserts it
    not_null); this model is the by-line segment of that report family."""
    f = fact_player_sog_props_v2.filter(
        F.col("outcome").isin("over", "under", "push")
    )
    n_over = F.count(F.when(F.col("outcome") == "over", 1))
    n_under = F.count(F.when(F.col("outcome") == "under", 1))
    n_push = F.count(F.when(F.col("outcome") == "push", 1))
    n_decided = F.count(F.when(F.col("outcome") != "push", 1))
    return (
        f.groupBy("line_value")
        .agg(
            n_over.alias("n_over"),
            n_under.alias("n_under"),
            n_push.alias("n_push"),
            F.when(n_decided > 0, n_over.cast("double") / n_decided)
            .otherwise(F.lit(None).cast("double"))
            .alias("over_hit_rate"),
            F.round(F.avg("actual_sog"), 2).alias("avg_actual_sog"),
            F.round(F.avg("line_value"), 2).alias("avg_line"),
            (n_over + n_under + n_push).alias("n_total"),
        )
        .filter(F.col("n_total") >= 5)
        .withColumn("analysis_type", F.lit("by_line"))
    )
