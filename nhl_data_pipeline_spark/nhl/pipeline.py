"""Pipeline driver: materialize the model DAG, independent models
concurrently.

Replaces the reference's Airflow→Snowflake→dbt chain (SURVEY §3.1) with one
Spark job: bronze readers → staging → silver tables → metric views.
The dbt view/table policy (dbt_project.yml:19-33) maps to: views = lazy
DataFrames registered as temp views; tables = parquet materializations
under a warehouse dir. Each model is declared with its input models; like
the reference's DAG (three bronze loads in parallel) and ``dbt build``
(independent models at once), a model is built as soon as its inputs
are, so independent table writes overlap (``session.run_concurrently``).
The result keeps the declaration order.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.nhl import dims, facts, metrics, odds, staging
from nhl_data_pipeline_spark.session import run_concurrently
from nhl_data_pipeline_spark.sources.layout import write_zordered


@dataclass
class PipelineResult:
    models: dict[str, DataFrame]

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
    A model is built in a worker thread once its inputs are emitted; the
    first builder or write error is re-raised. Without a warehouse every
    model is a lazy view, so the run launches no write and the returned
    plans are the same as a serial build's.
    """
    # A written model is re-read with the schema it was written with, so
    # the re-read runs no schema-inference job (Spark still moves
    # partition columns last and makes every field nullable, as inference
    # would: tests/test_nhl_pipeline.py pins the equality).
    def emit(name: str, df: DataFrame) -> DataFrame:
        if warehouse_dir and name in ZORDER_MODELS:
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
            df = spark.read.schema(df.schema).parquet(path)
        elif warehouse_dir and name in TABLE_MODELS:
            path = os.path.join(warehouse_dir, name)
            writer = df.write.mode("overwrite")
            parts = TABLE_MODELS[name]
            if parts:
                writer = writer.partitionBy(*parts)
            writer.parquet(path)
            df = spark.read.schema(df.schema).parquet(path)
        df.createOrReplaceTempView(name)
        return df

    # The DAG, in declaration order: (model, builder, input models). A
    # builder receives its inputs' emitted frames, in the listed order.
    dag: list[tuple[str, Callable[..., DataFrame], tuple[str, ...]]] = [
        # staging
        ("stg_games", lambda: staging.stg_games(bronze["game_boxscore"]), ()),
        (
            "stg_player_game_stats",
            lambda: staging.stg_player_game_stats(bronze["game_boxscore"]),
            (),
        ),
        (
            "stg_schedule_games",
            lambda: staging.stg_schedule_games(bronze["schedule"]),
            (),
        ),
        (
            "stg_odds_player_props",
            lambda: staging.stg_odds_player_props(bronze["odds_player_props"]),
            (),
        ),
        # dims (dim_date reads observed game dates for its is_game_day /
        # games_on_date indicators — dim_date.sql:31-38 — and the
        # injected as-of date for its relative flags)
        (
            "dim_date",
            lambda g: dims.dim_date(
                spark, game_dates=g.select("game_date"), today=as_of
            ),
            ("stg_games",),
        ),
        ("dim_team", dims.dim_team, ("stg_games",)),
        (
            "dim_player",
            lambda pgs, t: dims.dim_player(pgs, today=as_of, dim_team=t),
            ("stg_player_game_stats", "dim_team"),
        ),
        # facts
        ("fact_game_results", facts.fact_game_results, ("stg_games",)),
        (
            "fact_player_game_stats",
            facts.fact_player_game_stats,
            ("stg_player_game_stats", "dim_player", "dim_team"),
        ),
        (
            "fact_team_game_stats",
            facts.fact_team_game_stats,
            ("fact_player_game_stats", "stg_games"),
        ),
        (
            "fact_shot_events",
            lambda p: facts.fact_shot_events(bronze["game_pbp"], p),
            ("dim_player",),
        ),
        # metrics
        ("team_shot_metrics", metrics.team_shot_metrics, ("fact_team_game_stats",)),
        (
            "player_shot_metrics",
            metrics.player_shot_metrics,
            ("fact_player_game_stats",),
        ),
        (
            "team_shots_against_by_position",
            metrics.team_shots_against_by_position,
            ("fact_player_game_stats", "fact_team_game_stats", "dim_team"),
        ),
        (
            "team_shot_locations",
            metrics.team_shot_locations,
            ("fact_shot_events", "dim_team"),
        ),
        (
            "player_shot_locations",
            metrics.player_shot_locations,
            ("fact_shot_events", "dim_team"),
        ),
        (
            "bruins_next_opponent",
            lambda s, t: metrics.bruins_next_opponent(s, t, today="2024-11-13"),
            ("stg_schedule_games", "dim_team"),
        ),
        # Bruins-filtered Tableau extracts (bruins_*.sql — the Sheets row cap)
        (
            "bruins_team_shot_locations",
            metrics.bruins_team_shot_locations,
            ("team_shot_locations",),
        ),
        (
            "bruins_player_shot_locations",
            metrics.bruins_player_shot_locations,
            ("player_shot_locations",),
        ),
        (
            "bruins_shot_events",
            metrics.bruins_shot_events,
            ("fact_shot_events", "dim_team"),
        ),
        (
            "bruins_opponent_shot_locations",
            metrics.bruins_opponent_shot_locations,
            ("team_shot_locations", "bruins_next_opponent"),
        ),
        # odds vertical
        (
            "stg_player_name_crosswalk",
            odds.stg_player_name_crosswalk,
            ("stg_odds_player_props", "dim_player"),
        ),
        (
            "fact_player_sog_props_v2",
            odds.fact_player_sog_props_v2,
            (
                "stg_odds_player_props", "stg_player_name_crosswalk",
                "fact_player_game_stats", "stg_games",
            ),
        ),
        (
            "rpt_sog_props_performance",
            odds.rpt_sog_props_performance,
            ("fact_player_sog_props_v2",),
        ),
    ]
    index = {name: i for i, (name, _, _) in enumerate(dag)}
    frames = run_concurrently(
        spark,
        [
            lambda *dfs, name=name, build=build: emit(name, build(*dfs))
            for name, build, _ in dag
        ],
        [tuple(index[n] for n in inputs) for _, _, inputs in dag],
    )
    return PipelineResult(dict(zip(index, frames)))
