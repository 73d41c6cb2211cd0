"""The reference's COMPLETE dbt schema-test suite, transcribed and run on
Spark.

Source of truth: the three schema.yml files of the reference dbt project —
dbt_nhl/models/bronze/schema.yml (16 tests), models/staging/schema.yml
(13), models/silver/schema.yml (204; 965 lines) — 233 declared test
instances in total (the ".context/DECISIONS.md:395" claim of "54 passing
tests" predates the later models; the YAMLs as committed declare 233).
Every instance below cites its reference layer/model and keeps the
reference's column names; where the engine's model spells a column
differently (e.g. reference ``shots`` = engine ``shots_on_goal``), the
per-model ``map`` translates — the asserted SEMANTICS are identical.

Test kinds (dbt core + dbt_utils, silver/schema.yml) and the quality.py
primitive whose semantics each follows:
- not_null / unique                     → quality.not_null / quality.unique
- accepted_values                       → quality.accepted_values
- relationships (FK, 15 instances)      → quality.relationships
- dbt_utils.unique_combination_of_columns (:207-211, :607-612, tsabp)
                                        → quality.unique (multi-col)
- dbt_utils.accepted_range (tsabp pct columns)
                                        → quality.accepted_range

Consciously skipped (recorded, not silently dropped): the three
``fact_player_sog_props`` (v1) column tests — the engine ships only the
v2 model (the reference itself superseded v1; the v1 fuzzy OR-LIKE join
survives as the `fuzzy_or_like_join` registered operator).

Scale note: one Spark action per SUITE model, never one per check. At
the daily run's size each action is bound by per-job latency, not by
rows, so the 230 checks cost 17 fused aggregates (see ``_model_checks``),
which run concurrently; a view model is computed once for its own
checks instead of once per check. The ``quality.py`` primitives keep the
one-check-per-action form and are the oracle the fused suite is tested
against.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.nhl.quality import CheckResult
from nhl_data_pipeline_spark.session import run_concurrently

POSITION_CODES_ALL = ["C", "LW", "RW", "L", "R", "D", "G"]  # silver:108
POSITION_CODES_SKATERS = ["C", "LW", "RW", "L", "R", "D"]  # silver (fpgs)

# Per reference model: the declared tests, verbatim from the YAMLs.
# "map" translates reference column names to the engine's spelling where
# they differ; unmapped names are used as-is.
SUITE: dict[str, dict] = {
    # ---------------- bronze/schema.yml (16) ----------------
    "bronze_schedule_snapshots": {
        "source": "bronze:schedule",
        "not_null": ["payload", "s3_key", "ingest_ts"],
    },
    "bronze_game_boxscore_snapshots": {
        "source": "bronze:game_boxscore",
        "not_null": ["payload", "s3_key", "partition_date", "game_id"],
    },
    "bronze_game_pbp_snapshots": {
        "source": "bronze:game_pbp",
        "not_null": ["payload", "s3_key", "partition_date", "game_id"],
    },
    "bronze_odds_player_props": {
        "source": "bronze:odds_player_props",
        # reference odds bronze names its partition column game_date
        "map": {"game_date": "partition_date"},
        "not_null": ["payload", "s3_key", "game_date", "event_id", "market"],
    },
    # ---------------- staging/schema.yml (13) ----------------
    "stg_games": {
        "unique": [["game_id"]],
        "not_null": ["game_id", "game_date", "home_team_id", "away_team_id"],
    },
    "stg_odds_player_props": {
        "not_null": ["game_date", "event_id", "player_name"],
    },
    "stg_player_name_crosswalk": {
        "map": {"nhl_player_id": "player_id"},
        "unique": [["odds_player_name"]],
        "not_null": ["odds_player_name", "nhl_player_id", "nhl_player_name"],
        "accepted_values": {
            "match_method": ["exact", "normalized", "initial_last"],
        },
    },
    # ---------------- silver/schema.yml (204) ----------------
    "dim_date": {
        "unique": [["date_key"]],
        "not_null": [
            "date_key", "year", "month", "day", "day_of_week",
            "season_phase", "is_game_day", "games_on_date", "is_weekend",
        ],
        "accepted_values": {
            "season_phase": [
                "Early Season", "Mid Season", "Late Season",
                "Playoffs", "Off Season", "Unknown",
            ],
        },
    },
    "dim_team": {
        "unique": [["team_id"]],
        "not_null": [
            "team_id", "team_abbrev", "place_name", "common_name",
            "team_name", "logo_url_light", "logo_url_dark",
        ],
    },
    "dim_player": {
        "unique": [["player_id"]],
        "not_null": ["player_id", "player_name", "position_code", "position_type"],
        "accepted_values": {
            "position_code": POSITION_CODES_ALL,
            "position_type": ["F", "D", "G"],
        },
    },
    "fact_game_results": {
        "unique": [["game_id"]],
        "not_null": [
            "game_id", "date_key", "home_team_id", "away_team_id",
            "home_score", "away_score", "season", "game_type",
            "periods_played", "goal_differential", "total_goals",
            "venue_name", "game_state", "went_to_overtime",
            "source_partition_date", "source_s3_key",
        ],
        "accepted_values": {"game_state": ["OFF"]},
        "relationships": [
            ("date_key", "dim_date", "date_key"),
            ("home_team_id", "dim_team", "team_id"),
            ("away_team_id", "dim_team", "team_id"),
        ],
    },
    "fact_player_game_stats": {
        "map": {
            "shots": "shots_on_goal",
            "pp_goals": "power_play_goals",
            "sh_goals": "shorthanded_goals",
            "time_on_ice": "toi",
        },
        "unique_combination": [["game_id", "player_id"]],  # silver:207-211
        "not_null": [
            "game_id", "player_id", "date_key", "team_id",
            "opponent_team_id", "opponent_team_abbrev", "home_away",
            "position_type", "goals", "assists", "points", "shots",
            "position_code", "plus_minus", "penalty_minutes", "pp_goals",
            "sh_goals", "hits", "blocked_shots", "giveaways", "takeaways",
            "time_on_ice", "shifts",
        ],
        "accepted_values": {
            "home_away": ["home", "away"],
            "position_type": ["F", "D"],
            "position_code": POSITION_CODES_SKATERS,
        },
        "relationships": [
            ("game_id", "fact_game_results", "game_id"),
            ("player_id", "dim_player", "player_id"),
            ("date_key", "dim_date", "date_key"),
            ("team_id", "dim_team", "team_id"),
            ("opponent_team_id", "dim_team", "team_id"),
        ],
    },
    "fact_team_game_stats": {
        # no "map": the engine model carries the reference's column names
        "not_null": [
            "game_id", "team_id", "date_key", "opponent_team_id",
            "season", "game_type", "home_away", "goals_for",
            "goals_against", "goal_differential", "shots_for",
            "shots_against", "shot_differential", "shooting_pct",
            "save_pct", "hits", "giveaways", "takeaways",
            "penalty_minutes", "pp_goals", "sh_goals",
        ],
        "accepted_values": {
            "home_away": ["home", "away"],
            "result": ["W", "L"],
        },
    },
    "player_shot_metrics": {
        "not_null": [
            "season", "player_id", "player_name", "team_id", "team_abbrev",
            "position_code", "position_type", "games_played",
            "total_shots", "total_goals", "total_assists", "total_points",
            "total_plus_minus", "total_hits", "total_blocked_shots",
            "total_takeaways", "total_giveaways", "total_shifts",
            "total_pp_goals", "total_sh_goals",
            "shots_per_game", "goals_per_game", "assists_per_game",
            "points_per_game", "plus_minus_per_game", "hits_per_game",
            "blocked_shots_per_game", "takeaways_per_game",
            "giveaways_per_game", "shifts_per_game", "shooting_pct",
        ],
        "accepted_values": {
            "position_code": POSITION_CODES_SKATERS,
            "position_type": ["F", "D"],
        },
        "relationships": [
            ("player_id", "dim_player", "player_id"),
            ("team_id", "dim_team", "team_id"),
        ],
    },
    "fact_shot_events": {
        "map": {
            "shooter_player_id": "player_id",
            "shooter_position_code": "position_code",
            "shooter_position_type": "position_type",
            "shooting_team_id": "team_id",
            "defending_team_id": "opponent_team_id",
        },
        "unique_combination": [["game_id", "event_id"]],  # silver:607-612
        "not_null": [
            "game_id", "event_id", "game_date", "season", "game_type",
            "period", "period_type", "time_in_period", "time_remaining",
            "shooter_player_id", "shooting_team_id", "shooter_home_away",
            "defending_team_id", "event_type", "shot_result", "is_goal",
            "home_team_id", "home_team_abbrev", "away_team_id",
            "away_team_abbrev",
        ],
        "accepted_values": {
            "shooter_position_code": POSITION_CODES_SKATERS,
            "shooter_position_type": ["F", "D"],
            "shooter_home_away": ["home", "away"],
            "event_type": ["shot-on-goal", "goal", "missed-shot"],
            "shot_result": ["goal", "saved", "missed"],
            "is_goal": [0, 1],
        },
        "relationships": [
            ("shooter_player_id", "dim_player", "player_id"),
            ("shooting_team_id", "dim_team", "team_id"),
            ("defending_team_id", "dim_team", "team_id"),
            ("goalie_id", "dim_player", "player_id"),
            ("assist1_player_id", "dim_player", "player_id"),
            ("assist2_player_id", "dim_player", "player_id"),
            ("home_team_id", "dim_team", "team_id"),
            ("away_team_id", "dim_team", "team_id"),
        ],
    },
    "team_shots_against_by_position": {
        "unique_combination": [["game_id", "team_id"]],
        "not_null": [
            "game_id", "game_date", "team_id", "team_abbrev", "team_name",
            "season", "home_away", "shots_against_forwards",
            "shots_against_defense", "total_shots_against",
            "shots_against_forwards_3game_avg",
            "shots_against_defense_3game_avg",
            "shots_against_forwards_5game_avg",
            "shots_against_defense_5game_avg",
            "shots_against_forwards_season_avg",
            "shots_against_defense_season_avg",
            "games_played_in_season",
        ],
        "accepted_values": {
            "home_away": ["home", "away"],
            "result": ["W", "L"],
        },
        "accepted_range": [
            ("pct_shots_against_from_forwards", 0, 100, True),
            ("pct_shots_against_from_defense", 0, 100, True),
        ],
        "relationships": [
            ("game_id", "fact_game_results", "game_id"),
            ("game_date", "dim_date", "date_key"),
            ("team_id", "dim_team", "team_id"),
        ],
    },
    "fact_player_sog_props_v2": {
        "not_null": ["game_date", "event_id", "odds_player_name"],
    },
    "rpt_sog_props_performance": {
        "not_null": ["analysis_type"],
    },
}

# Reference tests NOT runnable on the engine's DAG, with the reason —
# counted by the suite tests so the parity gap is explicit, never silent.
SKIPPED: list[tuple[str, str, str]] = [
    (
        "fact_player_sog_props", t, "v1 model superseded by v2 in the engine"
        " (the v1 OR-LIKE fuzzy join lives on as plans/q_joins.py's"
        " fuzzy_or_like_join operator)"
    )
    for t in ("not_null(game_date)", "not_null(event_id)",
              "not_null(odds_player_name)")
]


def _frame(
    model: str, spec: dict, models: dict[str, DataFrame],
    bronze: dict[str, DataFrame] | None,
) -> DataFrame:
    src = spec.get("source")
    if src and src.startswith("bronze:"):
        if bronze is None:
            raise KeyError(f"{model}: bronze frames not provided")
        return bronze[src.split(":", 1)[1]]
    return models[model]


def _model_checks(
    model: str, spec: dict, df: DataFrame, models: dict[str, DataFrame]
) -> list[CheckResult]:
    """Every check of one SUITE entry from ONE Spark action.

    Row checks (not_null, accepted_values, accepted_range) are
    ``count(when(<failing condition>))`` columns of one aggregate. Each
    relationship left-joins the parent's DISTINCT key set with a hit
    flag (the parent side is distinct, so no child row multiplies); its
    orphans are the non-null child keys with no hit. A unique key set
    turns the aggregate into an inner ``groupBy(keys)`` carrying the other
    counts, and the outer aggregate sums them and counts the groups with
    more than one row (NULL keys form a group, as in ``quality.unique``).
    Names, counts and order equal the ``quality.py`` primitives'.
    """
    m = spec.get("map", {})
    col = lambda c: m.get(c, c)  # noqa: E731
    keys = spec.get("unique", []) + spec.get("unique_combination", [])
    if len(keys) > 1:
        raise ValueError(f"{model}: one unique key set per model, got {keys}")
    # (check name, failing-row condition); None marks the unique check.
    checks: list[tuple[str, Column | None]] = [
        (f"not_null({c})", F.col(col(c)).isNull())
        for c in spec.get("not_null", [])
    ]
    checks += [(f"unique({', '.join(map(col, ks))})", None) for ks in keys]
    for ref_c, values in spec.get("accepted_values", {}).items():
        v = F.col(col(ref_c))
        checks.append(
            (f"accepted_values({ref_c})", ~v.isin(values) & v.isNotNull())
        )
    for ref_c, lo, hi, inclusive in spec.get("accepted_range", []):
        v = F.col(col(ref_c))
        bad = (v < lo) | (v > hi) if inclusive else (v <= lo) | (v >= hi)
        checks.append(
            (f"accepted_range({col(ref_c)},[{lo},{hi}])", v.isNotNull() & bad)
        )
    for i, (ref_c, parent, parent_col) in enumerate(
        spec.get("relationships", [])
    ):
        key, hit = f"_rel{i}_key", f"_rel{i}_hit"
        parent_keys = (
            models[parent]
            .select(F.col(parent_col).alias(key), F.lit(True).alias(hit))
            .distinct()
        )
        df = df.join(parent_keys, F.col(col(ref_c)) == F.col(key), "left")
        checks.append(
            (
                f"relationships({ref_c}→{parent}.{parent_col})",
                F.col(col(ref_c)).isNotNull() & F.col(hit).isNull(),
            )
        )
    counts = {
        f"_c{i}": F.count(F.when(cond, 1))
        for i, (_, cond) in enumerate(checks)
        if cond is not None
    }
    if keys:
        groups = df.groupBy(*map(col, keys[0])).agg(
            F.count(F.lit(1)).alias("_n"),
            *[c.alias(a) for a, c in counts.items()],
        )
        row = groups.agg(
            *[
                F.count(F.when(F.col("_n") > 1, 1))
                if cond is None
                else F.coalesce(F.sum(f"_c{i}"), F.lit(0))
                for i, (_, cond) in enumerate(checks)
            ]
        ).first()
    else:
        row = df.agg(*counts.values()).first()
    return [
        CheckResult(model, name, n == 0, n)
        for (name, _), n in zip(checks, row)
    ]


def run_reference_suite(
    models: dict[str, DataFrame],
    bronze: dict[str, DataFrame] | None = None,
) -> list[CheckResult]:
    """Every runnable reference test instance, as CheckResults: one Spark
    action per SUITE model, the models' actions run concurrently."""
    tasks = [
        lambda model=model, spec=spec: _model_checks(
            model, spec, _frame(model, spec, models, bronze), models
        )
        for model, spec in SUITE.items()
        if bronze is not None or not spec.get("source", "").startswith("bronze:")
    ]
    spark = next(iter(models.values())).sparkSession
    return [r for rs in run_concurrently(spark, tasks) for r in rs]
