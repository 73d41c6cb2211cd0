"""Result export sinks (reference operator S9).

The reference exports 11 silver models to Google Sheets worksheets and 2-3
to CSV for Tableau (src/nhl_pipeline/export/sheets_export.py:39-133,
tableau_export.py:41-173). Spark-side: CSV is a native writer; the Sheets
hop is driver-side pandas → gspread and is stubbed behind an import-try
(network + credentials are environment concerns, not engine surface).
Row-cap guard reproduced: Sheets rejects ~48K rows (.context/
DECISIONS.md:481-487).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from nhl_data_pipeline_spark.session import run_concurrently

SHEETS_ROW_CAP = 25_000  # practical max before the API chokes (DECISIONS.md:487)

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
    order the same way). Returns {model: path}. The Sheets hop itself
    stays env-gated (export_sheets); CSV is the offline-verifiable sink
    and the reference's own fallback for the oversize models. The 11
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


def export_sheets(df: DataFrame, spreadsheet: str, worksheet: str) -> int:
    """Google Sheets export: toPandas → gspread, guarded by the row cap.

    Raises NotImplementedError where gspread/credentials are absent (this
    container); the cap check and the pandas hop — the engine-side logic —
    run regardless, so the guard is testable offline.
    """
    n = df.count()
    if n > SHEETS_ROW_CAP:
        raise ValueError(
            f"{worksheet}: {n} rows exceeds the Sheets practical cap "
            f"({SHEETS_ROW_CAP}); export a filtered model instead "
            "(the reference's Bruins-only models exist for this reason)"
        )
    pdf = df.toPandas()
    try:
        import gspread  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            f"gspread not installed; {len(pdf)} rows ready for {spreadsheet}/{worksheet}"
        ) from e
    raise NotImplementedError("wire gspread client here when credentials exist")
