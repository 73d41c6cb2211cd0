"""Export sinks: the CSV writer and the reference's 11-model manifest."""

from __future__ import annotations

from pyspark.sql import functions as F

from nhl_data_pipeline_spark.sources import export


def test_export_csv_roundtrip(spark, tmp_path):
    path = str(tmp_path / "csv_out")
    export.export_csv(spark.range(5).withColumn("x", F.col("id") * 2), path)
    back = spark.read.option("header", True).csv(path)
    assert back.count() == 5


def test_export_all_models_golden_headers(spark, tmp_path):
    """The 11-model export manifest (reference sheets_export.py:39-57)
    drives the REAL model DAG to CSV: every manifest model exports, each
    CSV's header row equals the model's columns in model order (golden
    header per model), and the Bruins-only subsets all fit the Sheets
    row cap they exist for."""
    import csv
    from pathlib import Path

    from nhl_data_pipeline_spark.nhl import fixtures
    from nhl_data_pipeline_spark.nhl.pipeline import run_pipeline

    bronze = {
        "game_boxscore": fixtures.boxscore_snapshots(spark),
        "game_pbp": fixtures.pbp_snapshots(spark),
        "schedule": fixtures.schedule_snapshots(spark),
        "odds_player_props": fixtures.odds_snapshots(spark),
    }
    models = run_pipeline(spark, bronze).models
    paths = export.export_all(models, str(tmp_path / "exports"))
    assert list(paths) == list(export.EXPORT_MODELS)  # manifest order
    for name, path in paths.items():
        files = list(Path(path).glob("*.csv"))
        assert len(files) == 1, (name, files)  # single-file Tableau shape
        with open(files[0], newline="") as fh:
            header = next(csv.reader(fh))
        assert header == models[name].columns, name
    # The reference's practical Sheets cap is 25K rows
    # (DECISIONS.md:481-487); the Bruins-only models exist to fit it.
    for name in export.EXPORT_MODELS:
        if name.startswith("bruins_"):
            assert models[name].count() <= 25_000, name
