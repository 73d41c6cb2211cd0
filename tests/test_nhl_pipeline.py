"""End-to-end tests of the NHL model DAG over deterministic fixtures.

Covers the reference's documented invariants (SURVEY §1.4): latest-snapshot
wins, completed-games filter placement, null-player drops, crosswalk match
classes, over/under/push/pending/unmatched outcomes, and the dbt-style
quality suite.
"""

from __future__ import annotations

from functools import reduce
from pathlib import Path

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nhl_data_pipeline_spark.nhl import fixtures
from nhl_data_pipeline_spark.nhl.pipeline import (
    TABLE_MODELS,
    ZORDER_MODELS,
    run_pipeline,
)


@pytest.fixture(scope="session")
def bronze(spark):
    return {
        "game_boxscore": fixtures.boxscore_snapshots(spark),
        "game_pbp": fixtures.pbp_snapshots(spark),
        "schedule": fixtures.schedule_snapshots(spark),
        "odds_player_props": fixtures.odds_snapshots(spark),
    }


@pytest.fixture(scope="session")
def warehouse(spark, bronze, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    return wh, run_pipeline(spark, bronze, warehouse_dir=wh).models


@pytest.fixture(scope="session")
def models(warehouse):
    return warehouse[1]


def test_warehouse_layout(warehouse):
    """Which models the warehouse run writes, and how each is laid out:
    dims, facts and the four staging models as parquet tables, the
    season-partitioned facts with season= directories, and the Hilbert
    clustered shot facts unpartitioned. Metric models stay views."""
    wh = Path(warehouse[0])
    season_facts = {
        "fact_game_results",
        "fact_player_game_stats",
        "fact_team_game_stats",
    }
    unpartitioned = {
        "stg_games",
        "stg_player_game_stats",
        "stg_schedule_games",
        "stg_odds_player_props",
        "dim_date",
        "dim_team",
        "dim_player",
        "fact_player_sog_props_v2",
        "fact_shot_events",
    }
    assert {p.name for p in wh.iterdir()} == season_facts | unpartitioned
    for name in season_facts:
        parts = [p.name for p in (wh / name).iterdir() if p.is_dir()]
        assert parts and all(p.startswith("season=") for p in parts), name
    for name in unpartitioned:
        assert not any(p.is_dir() for p in (wh / name).iterdir()), name


def test_written_models_reread_with_inferred_schema(spark, warehouse):
    """Each written model is re-read with the schema it was written with,
    not re-inferred by a Spark job. That schema must equal what Spark
    infers from the files: partition columns last, every field nullable."""
    wh, models = warehouse
    names = sorted(TABLE_MODELS) + sorted(ZORDER_MODELS)
    assert len(names) == 12
    for name in names:
        inferred = spark.read.parquet(str(Path(wh) / name)).schema
        assert models[name].schema == inferred, name


def test_latest_snapshot_wins(spark, bronze, models):
    # Bronze keeps every snapshot (append-only, duplicate-tolerant)…
    raw_counts = (
        bronze["game_boxscore"].groupBy("game_id").count().filter("count > 1").count()
    )
    assert raw_counts > 0, "fixture must contain multi-snapshot games"
    # …staging keeps exactly one row per game, from the max partition_date.
    sg = models["stg_games"]
    assert sg.groupBy("game_id").count().filter("count > 1").count() == 0
    multi = (
        bronze["game_boxscore"].groupBy("game_id")
        .agg(F.max("partition_date").alias("max_pd"), F.count("*").alias("n"))
        .filter("n > 1")
    )
    joined = sg.join(multi, "game_id").filter(F.col("partition_date") != F.col("max_pd"))
    assert joined.count() == 0


def test_completed_filter_in_silver_not_staging(models):
    states = {r["game_state"] for r in models["stg_games"].select("game_state").distinct().collect()}
    assert states == {"OFF", "LIVE", "FUT"}  # staging keeps all states
    assert models["fact_game_results"].filter("game_id IS NULL").count() == 0
    n_off = models["stg_games"].filter("game_state = 'OFF'").count()
    assert models["fact_game_results"].count() == n_off


def test_schedule_latest_snapshot_breaks_ingest_ts_ties_by_s3_key(spark):
    """The latest schedule snapshot is ORDER BY ingest_ts DESC, s3_key DESC
    LIMIT 1, planned as a per-partition top-1 (no unpartitioned window)."""
    import json

    from nhl_data_pipeline_spark.nhl.staging import stg_schedule_games

    def snap(game_id, s3_key, ingest_ts):
        game = {
            "id": game_id,
            "gameState": "FUT",
            "gameType": 2,
            "startTimeUTC": "2024-11-14T00:00:00Z",
            "homeTeam": {"id": 1, "abbrev": "BOS"},
            "awayTeam": {"id": 2, "abbrev": "TOR"},
        }
        payload = {"gameWeek": [{"date": "2024-11-14", "games": [game]}]}
        return (json.dumps(payload), s3_key, ingest_ts)

    raw = (
        spark.createDataFrame(
            [
                snap(1, "raw/schedule/z_older.json", "2024-11-13 10:00:00"),
                snap(2, "raw/schedule/a_tie.json", "2024-11-14 10:00:00"),
                snap(3, "raw/schedule/b_tie.json", "2024-11-14 10:00:00"),
            ],
            "payload string, s3_key string, ingest_ts string",
        )
        .withColumn("ingest_ts", F.to_timestamp("ingest_ts"))
        .repartition(3)
    )
    out = stg_schedule_games(raw)
    assert [r["game_id"] for r in out.select("game_id").collect()] == [3]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_null_player_rows_dropped(models):
    assert models["stg_player_game_stats"].filter("player_id IS NULL").count() == 0
    assert models["stg_player_game_stats"].count() > 0


def test_team_game_stats_grain_and_derivations(models):
    ftgs = models["fact_team_game_stats"]
    # two rows (home+away) per completed game
    per_game = ftgs.groupBy("game_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_game] == [2]
    # goals_for of one side == goals_against of the other
    bad = (
        ftgs.alias("h")
        .join(ftgs.alias("a"), (F.col("h.game_id") == F.col("a.game_id")) & (F.col("h.home_away") == F.lit("home")) & (F.col("a.home_away") == F.lit("away")))
        .filter(F.col("h.goals_for") != F.col("a.goals_against"))
        .count()
    )
    assert bad == 0


def test_shot_events_filtered_and_coalesced(models):
    fse = models["fact_shot_events"]
    kinds = {r["event_type"] for r in fse.select("event_type").distinct().collect()}
    assert kinds <= {"shot-on-goal", "goal", "missed-shot"}
    assert fse.filter("player_id IS NULL").count() == 0  # COALESCE worked
    assert fse.filter("shot_result = 'goal' AND is_goal = 0").count() == 0


def test_crosswalk_match_classes(models):
    xw = {r["odds_player_name"]: r for r in models["stg_player_name_crosswalk"].collect()}
    assert xw["JT Miller"]["player_name"] == "J.T. Miller"
    assert xw["JT Miller"]["match_strategy"] == "initial_last"
    assert xw["Léon Draisaitl"]["player_name"] == "Leon Draisaitl"
    assert xw["Léon Draisaitl"]["match_strategy"] == "accent_normalized"
    assert xw["TIM STUTZLE"]["player_name"] == "Tim Stutzle"
    assert xw["TIM STUTZLE"]["match_strategy"] == "exact"  # case-insensitive exact
    assert "Nonexistent Player" not in xw


def test_crosswalk_strategy_precedence(spark):
    """On a hand-built roster: exact beats accent-folded beats
    initial_last, exact ignores case, and an initial_last key shared by
    two players drops the name."""
    from nhl_data_pipeline_spark.nhl.odds import stg_player_name_crosswalk

    roster = spark.createDataFrame(
        [
            (1, "Tim Stutzle"),
            (2, "Tím Stützle"),  # folds onto "TIM STUTZLE" too
            (3, "Leon Draisaitl"),
            (4, "Lars Draisaitl"),  # shares the initial_last key L|DRAISAITL
            (5, "Jack Hughes"),
            (6, "Jake Hughes"),  # J|HUGHES is ambiguous
            (7, "J.T. Miller"),
        ],
        "player_id long, player_name string",
    )
    odds = spark.createDataFrame(
        [("TIM STUTZLE",), ("Léon Draisaitl",), ("J Hughes",), ("JT Miller",),
         ("Nobody Here",)],
        "odds_player_name string",
    )
    got = {
        r["odds_player_name"]: (r["player_id"], r["match_strategy"],
                                r["match_confidence"])
        for r in stg_player_name_crosswalk(odds, roster).collect()
    }
    assert got == {
        "TIM STUTZLE": (1, "exact", 1.0),
        "Léon Draisaitl": (3, "accent_normalized", 0.95),
        "JT Miller": (7, "initial_last", 0.85),
    }


def test_sog_props_outcomes(models):
    props = models["fact_player_sog_props_v2"]
    outcomes = {r["outcome"] for r in props.select("outcome").distinct().collect()}
    assert "over" in outcomes and "under" in outcomes
    assert "pending" in outcomes  # FUT game lines
    assert "unmatched" in outcomes  # Nonexistent Player
    # one line per (event, player)
    assert (
        props.groupBy("event_id", "odds_player_name").count().filter("count > 1").count()
        == 0
    )
    # implied probability within (0, 1) where odds exist
    bad_prob = props.filter(
        F.col("over_implied_prob").isNotNull()
        & ((F.col("over_implied_prob") <= 0) | (F.col("over_implied_prob") >= 1))
    ).count()
    assert bad_prob == 0
    # game_date rides the ODDS side (reference bronze partition
    # semantics): non-null on every row, including props whose game
    # never resolves against stg_games
    assert props.filter(F.col("game_date").isNull()).count() == 0


def test_sog_props_game_date_survives_unresolved_game(spark, models):
    """A prop for a game ABSENT from stg_games (odds land before the
    schedule snapshot) stays 'pending' with a non-null game_date — the
    reference sources game_date from the odds feed, not the games join,
    and its dbt suite asserts not_null(game_date) on this model."""
    from nhl_data_pipeline_spark.nhl.odds import fact_player_sog_props_v2

    stg_odds = models["stg_odds_player_props"]
    future = stg_odds.withColumn(
        "commence_time",
        F.col("commence_time") + F.expr("INTERVAL 365 DAYS"),
    ).withColumn("game_date", F.to_date("commence_time"))
    out = fact_player_sog_props_v2(
        future,
        models["stg_player_name_crosswalk"],
        models["fact_player_game_stats"],
        models["stg_games"],
    )
    rows = out.select("game_id", "game_date", "outcome").collect()
    assert len(rows) > 0
    assert all(r["game_id"] is None for r in rows)  # no game resolves
    assert all(r["game_date"] is not None for r in rows)
    assert {r["outcome"] for r in rows} <= {"pending", "unmatched"}


def test_rolling_metrics_shapes(models):
    tsm = models["team_shot_metrics"].filter("games_played_in_season >= 3")
    # a 3-game average can never exceed the running max of the inputs
    bad = tsm.filter(F.col("shots_against_3game_avg") > 100).count()
    assert bad == 0
    assert models["player_shot_metrics"].count() > 0
    assert models["team_shots_against_by_position"].count() > 0
    assert models["team_shot_locations"].count() > 0
    assert models["player_shot_locations"].count() > 0


def test_team_shot_metrics_regular_season_only(spark, models):
    """team_shot_metrics.sql:26 filters `WHERE game_type = 2` BEFORE the
    windows; fixtures are all regular season, so inject a playoff row and
    assert it neither appears nor shifts games_played_in_season."""
    from nhl_data_pipeline_spark.nhl import metrics

    ftgs = models["fact_team_game_stats"]
    one = ftgs.orderBy("team_id", "game_date", "game_id").limit(1)
    playoff = (
        one.withColumn("game_type", F.lit(3))
        .withColumn("game_id", F.col("game_id") + 9_000_000)
        .withColumn("game_date", F.date_sub(F.col("game_date"), 30))
    )
    base = metrics.team_shot_metrics(ftgs)
    spiked = metrics.team_shot_metrics(ftgs.unionByName(playoff))
    assert spiked.count() == base.count()
    # the earlier playoff game must not have bumped the season numbering
    assert (
        spiked.groupBy().max("games_played_in_season").first()[0]
        == base.groupBy().max("games_played_in_season").first()[0]
    )


def test_bruins_next_opponent(models):
    rows = models["bruins_next_opponent"].collect()
    assert len(rows) == 1
    assert rows[0]["opponent_name"] is not None


def test_quality_suite_green(models):
    """The four schema checks the reference's 230-check SUITE does not
    declare, asserted with the per-check primitives (the SUITE itself
    stays at the reference's YAML count)."""
    from nhl_data_pipeline_spark.nhl.quality import (
        accepted_values,
        not_null,
        relationships,
        unique,
    )

    fgr = models["fact_game_results"]
    ftgs = models["fact_team_game_stats"]
    results = [
        *not_null(fgr, "fact_game_results", "game_date"),
        accepted_values(
            fgr, "fact_game_results", "winning_side", ["home", "away"]
        ),
        unique(ftgs, "fact_team_game_stats", "game_id", "team_id"),
        relationships(
            ftgs, "fact_team_game_stats", "team_id",
            models["dim_team"], "team_id",
        ),
    ]
    failures = [str(r) for r in results if not r.passed]
    assert not failures, f"quality checks failed: {failures}"


def suite_counts() -> dict[str, int]:
    """Declared / runnable / skipped instance counts of the reference suite."""
    from nhl_data_pipeline_spark.nhl.quality_suite import SKIPPED, SUITE

    kinds = (
        "not_null", "unique", "unique_combination", "accepted_values",
        "accepted_range", "relationships",
    )
    declared = sum(
        len(spec.get(k, ())) for spec in SUITE.values() for k in kinds
    )
    return {
        "runnable": declared,
        "skipped": len(SKIPPED),
        "reference_declared": declared + len(SKIPPED),
    }


def test_reference_dbt_suite_green(models, bronze):
    """The reference's FULL declared dbt test suite (bronze + staging +
    silver schema.yml, 233 instances) transcribed and run over the
    engine's model DAG: every runnable instance green, ≥54 of them (the
    `.context/DECISIONS.md:395` baseline), skips recorded explicitly."""
    from nhl_data_pipeline_spark.nhl.quality_suite import (
        SKIPPED,
        run_reference_suite,
    )

    results = run_reference_suite(models, bronze)
    failures = [str(r) for r in results if not r.passed]
    assert not failures, f"reference dbt checks failed: {failures}"
    counts = suite_counts()
    assert len(results) == counts["runnable"]
    # well past the reference's own "54 passing tests" baseline
    assert len(results) >= 54
    assert len(SKIPPED) == counts["skipped"] == 3


def test_reference_dbt_suite_counts_match_yaml():
    """The transcription is COMPLETE: runnable+skipped equals the number
    of test instances the reference's three schema.yml files declare
    (counted from the YAMLs themselves when the reference tree is
    available)."""
    import pytest as _pytest

    ref = Path("/root/reference/dbt_nhl/models")
    if not ref.exists():
        _pytest.skip("reference tree not available")
    yaml = _pytest.importorskip("yaml")
    declared = 0
    for layer in ("bronze", "staging", "silver"):
        doc = yaml.safe_load((ref / layer / "schema.yml").read_text())
        for m in doc.get("models", []):
            declared += len(m.get("tests") or [])
            for c in m.get("columns") or []:
                declared += len(c.get("tests") or [])
    assert suite_counts()["reference_declared"] == declared == 233


# The DAG's declaration order, which PipelineResult.models keeps.
DAG_ORDER = [
    "stg_games", "stg_player_game_stats", "stg_schedule_games",
    "stg_odds_player_props", "dim_date", "dim_team", "dim_player",
    "fact_game_results", "fact_player_game_stats", "fact_team_game_stats",
    "fact_shot_events", "team_shot_metrics", "player_shot_metrics",
    "team_shots_against_by_position", "team_shot_locations",
    "player_shot_locations", "bruins_next_opponent",
    "bruins_team_shot_locations", "bruins_player_shot_locations",
    "bruins_shot_events", "bruins_opponent_shot_locations",
    "stg_player_name_crosswalk", "fact_player_sog_props_v2",
    "rpt_sog_props_performance",
]


def _primitive_suite(models, bronze):
    """The reference suite checked one primitive call at a time: the
    ``quality.py`` semantics the fused one-action-per-model suite must
    reproduce exactly."""
    from nhl_data_pipeline_spark.nhl.quality import (
        CheckResult,
        accepted_range,
        accepted_values,
        not_null,
        relationships,
        unique,
    )
    from nhl_data_pipeline_spark.nhl.quality_suite import SUITE

    out = []
    for model, spec in SUITE.items():
        src = spec.get("source", "")
        df = bronze[src.split(":", 1)[1]] if src else models[model]
        m = spec.get("map", {})
        col = lambda c: m.get(c, c)  # noqa: E731
        ref_nn = spec.get("not_null", [])
        if ref_nn:
            for ref_c, r in zip(ref_nn, not_null(df, model, *map(col, ref_nn))):
                out.append(CheckResult(model, f"not_null({ref_c})", r.passed, r.failing_rows))
        for cols in spec.get("unique", []) + spec.get("unique_combination", []):
            out.append(unique(df, model, *map(col, cols)))
        for ref_c, values in spec.get("accepted_values", {}).items():
            r = accepted_values(df, model, col(ref_c), values)
            out.append(CheckResult(model, f"accepted_values({ref_c})", r.passed, r.failing_rows))
        for ref_c, lo, hi, inclusive in spec.get("accepted_range", []):
            out.append(accepted_range(df, model, col(ref_c), lo, hi, inclusive))
        for ref_c, parent, parent_col in spec.get("relationships", []):
            r = relationships(df, model, col(ref_c), models[parent], parent_col)
            out.append(CheckResult(
                model, f"relationships({ref_c}→{parent}.{parent_col})",
                r.passed, r.failing_rows,
            ))
    return out


def test_fused_suite_equals_primitives_on_poisoned_dag(models, bronze):
    """The fused suite returns exactly the primitives' CheckResult list,
    names, order and failing_rows, on a DAG with planted violations. The
    dim_team parent is a view that repeats the key of the row carrying
    the planted NULL, so a relationship join that multiplied child rows
    would inflate that NULL's count and fail the comparison."""
    from nhl_data_pipeline_spark.nhl.quality_suite import run_reference_suite

    fpgs = models["fact_player_game_stats"]
    first = fpgs.orderBy("game_id", "player_id").limit(1)
    r0 = first.first()
    is_r0 = (F.col("game_id") == r0["game_id"]) & (
        F.col("player_id") == r0["player_id"]
    )
    null_player = F.lit(None).cast(fpgs.schema["player_id"].dataType)
    poisoned_fpgs = reduce(DataFrame.unionByName, [
        fpgs.withColumn("hits", F.when(is_r0, None).otherwise(F.col("hits"))),
        first,  # duplicate (game_id, player_id)
        first.withColumn("player_id", null_player),  # two rows sharing
        first.withColumn("player_id", null_player),  # a NULL player key
        first.withColumn("home_away", F.lit("neutral")),
        first.withColumn("team_id", F.lit(-1)),  # orphan team
    ])
    dim_team = models["dim_team"]
    poisoned_dim_team = dim_team.unionByName(  # a view with a repeated key
        dim_team.filter(F.col("team_id") == r0["team_id"])
    )
    tsabp = models["team_shots_against_by_position"]
    t0 = tsabp.orderBy("game_id", "team_id").first()
    is_t0 = (F.col("game_id") == t0["game_id"]) & (F.col("team_id") == t0["team_id"])
    poisoned_tsabp = tsabp.withColumn(
        "pct_shots_against_from_forwards",
        F.when(is_t0, F.lit(101.0)).otherwise(F.col("pct_shots_against_from_forwards")),
    ).withColumn(  # orphan against the view parent
        "team_id", F.when(is_t0, F.lit(-2)).otherwise(F.col("team_id"))
    )
    poisoned = {
        **models,
        "fact_player_game_stats": poisoned_fpgs,
        "dim_team": poisoned_dim_team,
        "team_shots_against_by_position": poisoned_tsabp,
    }
    want = _primitive_suite(poisoned, bronze)
    got = run_reference_suite(poisoned, bronze)
    assert got == want
    failing = {(r.table, r.check): r.failing_rows for r in want if not r.passed}
    f = "fact_player_game_stats"
    assert failing[(f, "not_null(hits)")] == 1
    assert failing[(f, "not_null(player_id)")] == 2
    assert failing[(f, "unique(game_id, player_id)")] == 2
    assert failing[(f, "accepted_values(home_away)")] == 1
    assert failing[(f, "relationships(team_id→dim_team.team_id)")] == 1
    assert failing[("dim_team", "unique(team_id)")] == 1
    t = "team_shots_against_by_position"
    assert failing[(t, "accepted_range(pct_shots_against_from_forwards,[0,100])")] == 1
    assert failing[(t, "relationships(team_id→dim_team.team_id)")] == 1


def test_reference_suite_job_count_and_group(spark, models, bronze):
    """The suite runs a bounded number of Spark jobs (one fused action per
    model, not one per check), and the jobs it launches from its worker
    threads carry the caller's job group: with the group lost, none
    would be counted."""
    from nhl_data_pipeline_spark.nhl.quality_suite import run_reference_suite

    sc = spark.sparkContext
    group = "reference-suite-job-count"
    sc.setJobGroup(group, "run_reference_suite")
    try:
        results = run_reference_suite(models, bronze)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(results) == 230
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 100, len(jobs)


def test_run_pipeline_keeps_declaration_order(models):
    assert list(models) == DAG_ORDER


def test_run_pipeline_reraises_builder_error(spark, bronze, tmp_path, monkeypatch):
    """A failing model builder surfaces as the pipeline's exception, at
    once, and leaves no worker thread of the runner behind."""
    import threading
    import time

    from nhl_data_pipeline_spark.nhl import facts

    def broken(*_args):
        raise RuntimeError("fact_game_results builder failed")

    monkeypatch.setattr(facts, "fact_game_results", broken)
    def pool_threads():
        return {
            t for t in threading.enumerate()
            if t.name.startswith("ThreadPoolExecutor")
        }

    before = pool_threads()
    t0 = time.perf_counter()
    with pytest.raises(RuntimeError, match="fact_game_results builder failed"):
        run_pipeline(spark, bronze, warehouse_dir=str(tmp_path / "wh"))
    assert time.perf_counter() - t0 < 120
    assert pool_threads() <= before


def test_analyst_sql_corpus_runs(spark, models):
    """SURVEY §3.2: ad-hoc analyst SQL must run via spark.sql over the
    registered model views (dialect-adjusted analysis queries)."""
    leaders = spark.sql(
        """
        SELECT player_name, SUM(goals) AS goals
        FROM fact_player_game_stats
        GROUP BY player_name
        ORDER BY goals DESC, player_name
        LIMIT 5
        """
    ).collect()
    assert len(leaders) == 5
    streak = spark.sql(
        """
        SELECT t.team_id, t.game_date, t.shots_for
        FROM fact_team_game_stats t
        WHERE (t.team_id, t.game_date) IN (
            SELECT team_id, MAX(game_date) FROM fact_team_game_stats GROUP BY team_id
        )
        """
    ).collect()
    assert len(streak) > 0


def test_full_analysis_corpus_runs(spark, models):
    """SURVEY §3.2 acceptance: every analyst query family executes via
    spark.sql over the registered views and returns a sane shape."""
    from tests.analysis_corpus import CORPUS

    results = {name: spark.sql(sql).collect() for name, sql in CORPUS.items()}
    assert set(results) >= {
        "latest_team_game", "shot_volume_leaders", "shot_efficiency",
        "rolling_trends", "hot_streaks", "shot_differential", "home_vs_away",
        "ml_features_recent", "crosswalk_quality", "unmatched_odds_names",
        "betting_performance", "top_line_beaters", "daily_over_trend",
    }
    assert len(results["latest_team_game"]) == 10  # one row per team
    assert len(results["home_vs_away"]) > 0
    assert [r["odds_player_name"] for r in results["unmatched_odds_names"]] == [
        "Nonexistent Player"
    ]
    assert len(results["betting_performance"]) > 0
    strategies = {r["match_strategy"] for r in results["crosswalk_quality"]}
    assert strategies == {"exact", "accent_normalized", "initial_last"}


def test_committed_bronze_parquet_matches_fixtures(spark, bronze):
    """The committed bronze_fixtures parquet (consumed by nhl_pipeline_e2e
    and its DuckDB oracle) must stay byte-identical in content to the
    in-memory fixtures — regenerate via tools/gen_bronze_fixtures.py after
    any fixtures.py change."""
    from nhl_data_pipeline_spark.plans.q_nhl import BRONZE_DIR

    for name, df in bronze.items():
        committed = spark.read.parquet(f"{BRONZE_DIR}/{name}")
        assert committed.schema == df.schema, name
        a = sorted(map(tuple, df.collect()))
        b = sorted(map(tuple, committed.collect()))
        assert a == b, f"{name}: committed parquet drifted from fixtures"


def test_bruins_filtered_models(models):
    """The four Bruins Tableau extracts are exact filters of their parents
    (bruins_*.sql): same rows, no more, no fewer."""
    tsl = models["team_shot_locations"]
    psl = models["player_shot_locations"]
    fse = models["fact_shot_events"]

    bos_id = (
        models["dim_team"].filter(F.col("team_abbrev") == "BOS").collect()[0]["team_id"]
    )

    # team locations: both perspectives for BOS
    got = models["bruins_team_shot_locations"]
    want = tsl.filter(F.col("team_abbrev") == "BOS")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert {r["perspective"] for r in got.collect()} == {"offense", "defense"}

    # player locations: BOS shooters only
    gotp = models["bruins_player_shot_locations"]
    assert gotp.count() > 0
    assert gotp.filter(F.col("team_id") != bos_id).count() == 0
    assert gotp.count() == psl.filter(F.col("team_id") == bos_id).count()

    # shot events: BOS on either side of the event
    gote = models["bruins_shot_events"]
    wante = fse.filter(
        (F.col("team_id") == bos_id) | (F.col("opponent_team_id") == bos_id)
    )
    assert gote.count() == wante.count() > 0
    assert gote.exceptAll(wante).count() == 0

    # opponent locations: next opponent's OFFENSE rows only (the :21
    # perspective swap), labeled with the opponent's name
    bno = models["bruins_next_opponent"].collect()
    assert len(bno) == 1
    opp_id, opp_name = bno[0]["opponent_team_id"], bno[0]["opponent_name"]
    goto = models["bruins_opponent_shot_locations"]
    rows = goto.collect()
    assert len(rows) > 0
    assert all(r["team_id"] == opp_id for r in rows)
    assert all(r["perspective"] == "offense" for r in rows)
    assert all(r["context_label"] == opp_name for r in rows)
    assert len(rows) == tsl.filter(
        (F.col("team_id") == opp_id) & (F.col("perspective") == "offense")
    ).count()


def test_cli_end_to_end(spark, tmp_path):
    """python -m nhl_data_pipeline_spark.cli collapsed into main():
    builds the DAG from the committed bronze fixtures, passes the
    reference quality gate (exit 0), materializes the warehouse, and
    writes the export manifest."""
    import os

    from nhl_data_pipeline_spark.cli import main
    from nhl_data_pipeline_spark.sources.export import EXPORT_MODELS

    wh = str(tmp_path / "wh")
    ex = str(tmp_path / "csv")
    rc = main(["--warehouse", wh, "--export", ex])
    assert rc == 0
    assert os.path.isdir(os.path.join(wh, "fact_shot_events"))
    for m in EXPORT_MODELS:
        assert os.path.isdir(os.path.join(ex, m)), m


def test_cli_cluster_conf_reaches_session(spark, capsys):
    """--cluster-cores/--dataset-bytes route through session.cluster_conf
    and the derived confs land on the (live) session — the measured
    sizing policy is reachable from the one-command entry point."""
    from nhl_data_pipeline_spark.cli import main
    from nhl_data_pipeline_spark.session import cluster_conf

    want = cluster_conf(total_cores=64, dataset_bytes=100 << 30)
    saved = {k: spark.conf.get(k) for k in want}
    try:
        rc = main(["--skip-quality", "--cluster-cores", "64",
                   "--dataset-bytes", str(100 << 30)])
        assert rc == 0
        out = capsys.readouterr().out
        for k, v in want.items():
            assert spark.conf.get(k) == v, k
            assert f"cluster_conf: {k}={v}" in out
        # the 100 GiB / 128 MiB working-set rule beats 2×cores here
        assert want["spark.sql.shuffle.partitions"] == "800"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_cli_failed_gate_blocks_export(tmp_path, monkeypatch, capsys):
    """A failed quality gate halts before the export step — the same
    contract as the reference's `dbt build` (tests run before the export
    scripts) — unless --export-anyway explicitly overrides."""
    import os

    from nhl_data_pipeline_spark.nhl import quality_suite
    from nhl_data_pipeline_spark.nhl.quality import CheckResult
    from nhl_data_pipeline_spark.cli import main

    monkeypatch.setattr(
        quality_suite,
        "run_reference_suite",
        lambda models, bronze: [
            CheckResult("dim_teams", "not_null(team_id)", False, 3)
        ],
    )
    ex = str(tmp_path / "csv")
    rc = main(["--export", ex])
    assert rc == 1
    assert "export skipped: quality gate failed" in capsys.readouterr().out
    assert not os.path.exists(ex)

    rc = main(["--export", ex, "--export-anyway"])
    assert rc == 1  # exit code still reports the failure
    assert os.path.isdir(ex)
