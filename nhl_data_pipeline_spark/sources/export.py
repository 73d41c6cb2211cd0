"""Result export sinks (reference operator S9).

The reference exports 11 silver models to Google Sheets worksheets and 2-3
to CSV for Tableau (src/nhl_pipeline/export/sheets_export.py:39-133,
tableau_export.py:41-173). Spark-side the sink is CSV, a native writer;
the Sheets hop (driver-side pandas → gspread, network + credentials) is
an environment concern, not engine surface, and is not reproduced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from nhl_data_pipeline_spark.session import run_concurrently

# The reference's export manifest, verbatim names and order
# (sheets_export.py:39-57): the 11 active worksheet entries — six full
# silver models plus the five Bruins-only subsets the ~25K-row Sheets
# ceiling forced (DECISIONS.md:481-487; fact_shot_events and the full
# *_shot_locations models are commented out there for exactly that
# reason, exported via the CSV path instead).
EXPORT_MODELS: tuple[str, ...] = (
    "player_shot_metrics",
    "team_shot_metrics",
    "dim_player",
    "dim_team",
    "fact_player_game_stats",
    "team_shots_against_by_position",
    "bruins_player_shot_locations",
    "bruins_team_shot_locations",
    "bruins_shot_events",
    "bruins_next_opponent",
    "bruins_opponent_shot_locations",
)


def export_csv(df: DataFrame, path: str) -> None:
    """CSV sink with header, single file per model (Tableau-sized outputs
    are small by construction — coalesce is deliberate)."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def export_all(
    models: dict[str, DataFrame], out_dir: str
) -> dict[str, str]:
    """Drive the reference's full export manifest over the real model DAG
    to CSV: one `<out_dir>/<model>.csv` directory per EXPORT_MODELS entry,
    header row carrying the model's columns in their model order (the
    reference's `SELECT *` → DataFrame → sheet/CSV hop preserves column
    order the same way). Returns {model: path}. CSV is the
    offline-verifiable sink and the reference's own fallback for the
    oversize models. The 11
    writes are independent and run concurrently."""
    paths = {name: f"{out_dir}/{name}" for name in EXPORT_MODELS}
    run_concurrently(
        models[EXPORT_MODELS[0]].sparkSession,
        [
            lambda name=name: export_csv(models[name], paths[name])
            for name in EXPORT_MODELS
        ],
    )
    return paths

