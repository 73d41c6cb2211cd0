"""Pipeline driver: materialize the model DAG in dependency order.

Replaces the reference's Airflow→Snowflake→dbt chain (SURVEY §3.1) with one
Spark job: bronze readers → staging → silver tables → metric views.
The dbt view/table policy (dbt_project.yml:19-33) maps to: views = lazy
DataFrames registered as temp views; tables = parquet materializations
under a warehouse dir. Model dependency order is plain call order.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from nhl_data_pipeline_spark.nhl import dims, facts, metrics, odds, staging


@dataclass
class PipelineResult:
    models: dict[str, DataFrame] = field(default_factory=dict)

    def __getitem__(self, name: str) -> DataFrame:
        return self.models[name]


# Table policy: model name -> partition columns. Every model listed here
# is written once as parquet and re-read when the run has a warehouse;
# every other model stays a lazy view. dbt (dbt_project.yml:19-33) makes
# dims/facts tables and staging/metrics views. The four staging models
# are tables here too, with no partitions: each feeds several tables
# (stg_games alone feeds five), and as a view each consumer would
# re-parse the bronze JSON and re-run the latest-snapshot dedup window.
# Materializing them is dbt's materialized='table' escape hatch for hot
# views; rows and the 230-check quality suite are unchanged (evidence:
# BENCH_r13.json pipeline_scale_probe, dag_x10_sec / dag_x100_sec).
# Without a warehouse (nhl_pipeline_e2e's single-action plan) every
# model is a view and AQE reuses the shared subtrees. Fact tables
# partition by season, the lake layout that gives season-scoped queries
# partition pruning (mirrors the reference's date=/market= identity
# partitions, SURVEY §4).
TABLE_MODELS: dict[str, tuple[str, ...]] = {
    "stg_games": (),
    "stg_player_game_stats": (),
    "stg_schedule_games": (),
    "stg_odds_player_props": (),
    "dim_date": (),
    "dim_team": (),
    "dim_player": (),
    "fact_game_results": ("season",),
    "fact_player_game_stats": ("season",),
    "fact_team_game_stats": ("season",),
    "fact_player_sog_props_v2": (),  # odds grain has no season column
}

# Multi-column file clustering for the analyst access pattern: the shot
# worksheet's per-team recency queries filter (team_id, game_date)
# together (team_shot_example_queries.sql:96-124), which season
# partitioning alone can't prune. fact_shot_events is written
# Hilbert-clustered on those two columns (sources/layout.py — measured
# footer-stat pruning in its module docstring) INSTEAD of the season
# directory partitioning: the game_date bounding boxes subsume season
# pruning (a season is a date range), and every file gets a tight 2-D
# (team, date) box. game_date is projected to epoch days for the binning
# (dates don't min-max scale); the derived key is dropped before write.
ZORDER_MODELS: dict[str, dict] = {
    "fact_shot_events": {"x": "team_id", "date_col": "game_date"},
}


def run_pipeline(
    spark: SparkSession,
    bronze: dict[str, DataFrame],
    warehouse_dir: str | None = None,
    as_of: str = "2024-11-15",
) -> PipelineResult:
    """Execute the full model DAG from bronze snapshot DataFrames.

    bronze keys: game_boxscore, game_pbp, schedule, odds_player_props.
    When warehouse_dir is set, the TABLE_MODELS and ZORDER_MODELS models
    are written as parquet (mode "overwrite", so a re-run into the same
    warehouse replaces them) and re-read, mirroring dbt
    `materialized='table'`; every model is also registered as a temp view
    so the analyst SQL corpus (SURVEY §3.2) runs via spark.sql unchanged.
    """
    # Shared-session hygiene: this runner executes 24 models on one
    # session, so restore the default scan-split size first; a lake
    # query's tune_scan_splits must not leak into the DAG.
    from nhl_data_pipeline_spark.catalog import reset_scan_splits

    reset_scan_splits(spark)
    r = PipelineResult()

    def emit(name: str, df: DataFrame) -> DataFrame:
        if warehouse_dir and name in ZORDER_MODELS:
            from pyspark.sql import functions as F

            from nhl_data_pipeline_spark.sources.layout import write_zordered

            spec = ZORDER_MODELS[name]
            path = os.path.join(warehouse_dir, name)
            staged = df.withColumn(
                "_zd_days",
                F.datediff(
                    F.col(spec["date_col"]), F.lit("1970-01-01").cast("date")
                ),
            )
            write_zordered(
                staged,
                path,
                [spec["x"], "_zd_days"],
                bits=8,
                n_files=16,
                curve="hilbert",
                drop=["_zd_days"],
            )
            df = spark.read.parquet(path)
        elif warehouse_dir and name in TABLE_MODELS:
            path = os.path.join(warehouse_dir, name)
            writer = df.write.mode("overwrite")
            parts = TABLE_MODELS[name]
            if parts:
                writer = writer.partitionBy(*parts)
            writer.parquet(path)
            df = spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        r.models[name] = df
        return df

    # staging
    stg_games = emit("stg_games", staging.stg_games(bronze["game_boxscore"]))
    stg_pgs = emit(
        "stg_player_game_stats", staging.stg_player_game_stats(bronze["game_boxscore"])
    )
    stg_sched = emit("stg_schedule_games", staging.stg_schedule_games(bronze["schedule"]))
    stg_odds = emit(
        "stg_odds_player_props", staging.stg_odds_player_props(bronze["odds_player_props"])
    )

    # dims (dim_date reads observed game dates for its is_game_day /
    # games_on_date indicators — dim_date.sql:31-38 — and the injected
    # as-of date for its relative flags)
    dim_date = emit(
        "dim_date",
        dims.dim_date(
            spark, game_dates=stg_games.select("game_date"), today=as_of
        ),
    )
    dim_team = emit("dim_team", dims.dim_team(stg_games))
    dim_player = emit(
        "dim_player", dims.dim_player(stg_pgs, today=as_of, dim_team=dim_team)
    )

    # facts
    fgr = emit("fact_game_results", facts.fact_game_results(stg_games))
    fpgs = emit(
        "fact_player_game_stats",
        facts.fact_player_game_stats(stg_pgs, dim_player, dim_team),
    )
    ftgs = emit("fact_team_game_stats", facts.fact_team_game_stats(fpgs, stg_games))
    fse = emit("fact_shot_events", facts.fact_shot_events(bronze["game_pbp"], dim_player))

    # metrics
    emit("team_shot_metrics", metrics.team_shot_metrics(ftgs))
    emit("player_shot_metrics", metrics.player_shot_metrics(fpgs))
    emit(
        "team_shots_against_by_position",
        metrics.team_shots_against_by_position(fpgs, ftgs, dim_team),
    )
    tsl = emit("team_shot_locations", metrics.team_shot_locations(fse, dim_team))
    psl = emit("player_shot_locations", metrics.player_shot_locations(fse, dim_team))
    bno = emit(
        "bruins_next_opponent",
        metrics.bruins_next_opponent(stg_sched, dim_team, today="2024-11-13"),
    )

    # Bruins-filtered Tableau extracts (bruins_*.sql — the Sheets row cap)
    emit("bruins_team_shot_locations", metrics.bruins_team_shot_locations(tsl))
    emit("bruins_player_shot_locations", metrics.bruins_player_shot_locations(psl))
    emit("bruins_shot_events", metrics.bruins_shot_events(fse, dim_team))
    emit(
        "bruins_opponent_shot_locations",
        metrics.bruins_opponent_shot_locations(tsl, bno),
    )

    # odds vertical
    xw = emit(
        "stg_player_name_crosswalk",
        odds.stg_player_name_crosswalk(stg_odds, dim_player),
    )
    props = emit(
        "fact_player_sog_props_v2",
        odds.fact_player_sog_props_v2(stg_odds, xw, fpgs, stg_games),
    )
    emit("rpt_sog_props_performance", odds.rpt_sog_props_performance(props))

    _ = dim_date, fgr  # registered views; referenced via SQL corpus
    return r
