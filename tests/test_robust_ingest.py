"""Robust JSON ingest: quarantine split, drifted batches, drift census."""

from __future__ import annotations

import json

from pyspark.sql import types as T

from nhl_data_pipeline_spark.sources import robust as R

SCHEMA = T.StructType(
    [
        T.StructField("game_id", T.LongType()),
        T.StructField("team", T.StringType()),
        T.StructField("score", T.LongType()),
    ]
)


def _write_mixed(tmp_path):
    p = tmp_path / "feed"
    p.mkdir()
    good = [
        {"game_id": 1, "team": "BOS", "score": 3},
        {"game_id": 2, "team": "NYR", "score": 1},
        {"game_id": 3, "team": None, "score": 2},
    ]
    lines = [json.dumps(g) for g in good]
    lines.insert(1, '{"game_id": 4, "team": "TOR", "score": ')  # truncated
    lines.append("not json at all")
    (p / "part-0.json").write_text("\n".join(lines))
    return str(p), good


def test_quarantine_splits_good_and_bad(spark, tmp_path):
    path, good = _write_mixed(tmp_path)
    ok, bad = R.read_json_quarantine(spark, path, SCHEMA)
    got = sorted(
        (r["game_id"], r["team"], r["score"]) for r in ok.collect()
    )
    assert got == [(1, "BOS", 3), (2, "NYR", 1), (3, None, 2)]
    raws = sorted(r["raw"] for r in bad.collect())
    assert len(raws) == 2
    assert "not json at all" in raws[1] or "not json at all" in raws[0]
    assert all(r["source_file"].endswith("part-0.json") for r in bad.collect())


def test_quarantine_keeps_totals(spark, tmp_path):
    path, _ = _write_mixed(tmp_path)
    ok, bad = R.read_json_quarantine(spark, path, SCHEMA)
    assert ok.count() + bad.count() == 5  # nothing silently dropped


def test_quarantine_cache_handle_unpins(spark, tmp_path):
    """The split REQUIRES a cache (corrupt-column workaround); the result
    exposes it so callers can release executor storage — without the
    handle, every corpus read stays pinned for the session lifetime."""
    path, _ = _write_mixed(tmp_path)
    split = R.read_json_quarantine(spark, path, SCHEMA)
    ok, bad = split  # tuple-unpacking form still works
    assert ok.count() + bad.count() == 5
    assert split.cached.storageLevel.useMemory  # pinned while in use
    split.unpersist(blocking=True)
    assert not split.cached.storageLevel.useMemory


def test_quarantine_reads_drifted_batches_under_wider_schema(spark, tmp_path):
    """Old and new batches both parse under a schema widened for the new
    producer (long score read as double, added nullable field) with zero
    quarantined rows."""
    p = tmp_path / "drift"
    p.mkdir()
    (p / "old.json").write_text(
        '{"game_id": 1, "team": "BOS", "score": 3}\n'
    )
    (p / "new.json").write_text(
        '{"game_id": 2, "team": "NYR", "score": 2.5, "venue": "MSG"}\n'
    )
    wider = T.StructType(
        [
            T.StructField("game_id", T.LongType()),
            T.StructField("team", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("venue", T.StringType()),
        ]
    )
    ok, bad = R.read_json_quarantine(spark, str(p), wider)
    assert bad.count() == 0
    rows = {r["game_id"]: r for r in ok.collect()}
    assert rows[1]["score"] == 3.0 and rows[1]["venue"] is None
    assert rows[2]["venue"] == "MSG"


def test_drift_report_census(spark, tmp_path):
    path, _ = _write_mixed(tmp_path)
    ok, _ = R.read_json_quarantine(spark, path, SCHEMA)
    rep = {r["field"]: r for r in R.drift_report(ok).collect()}
    assert rep["game_id"]["n_present"] == 3
    assert rep["team"]["n_present"] == 2
    assert abs(rep["team"]["null_rate"] - 1 / 3) < 1e-12
    assert rep["score"]["type"] == "long"
