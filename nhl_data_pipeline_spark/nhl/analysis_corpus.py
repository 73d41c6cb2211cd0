"""Analyst SQL corpus — the engine's acceptance queries (SURVEY §3.2).

The reference ships two worksheets of hand-written analyst SQL over the
silver tables (dbt_nhl/analysis/team_shot_example_queries.sql:1-225 — ten
query families; odds_matching_queries.sql:1-177). Per the survey, "these
are the engine's acceptance queries — must run via spark.sql() against
registered silver tables with only dialect tweaks."

Each entry below expresses one family in Spark SQL dialect (the tweaks:
QUALIFY → subquery where needed, CURRENT_DATE → injected as-of date,
interval syntax). tests/test_nhl_pipeline.py runs every entry through
spark.sql against the temp views registered by pipeline.run_pipeline.
"""

from __future__ import annotations

AS_OF = "2024-11-15"  # injected "today" (reproducibility, SURVEY §7.3.4)

CORPUS: dict[str, str] = {
    # team_shot_example_queries.sql §1 — latest game per team
    "latest_team_game": """
        SELECT team_id, game_date, shots_for, shots_against, goals_for
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY team_id ORDER BY game_date DESC, game_id DESC
            ) AS rn
            FROM fact_team_game_stats
        ) WHERE rn = 1
    """,
    # §2 — volume leaders with min-sample HAVING
    "shot_volume_leaders": """
        SELECT team_id, COUNT(*) AS games,
               ROUND(AVG(shots_for), 2) AS avg_sog
        FROM fact_team_game_stats
        GROUP BY team_id
        HAVING COUNT(*) >= 1
        ORDER BY avg_sog DESC, team_id
    """,
    # §3 — efficiency (shooting pct, guarded)
    "shot_efficiency": """
        SELECT team_id,
               SUM(goals_for) AS goals,
               SUM(shots_for) AS shots,
               ROUND(SUM(goals_for) / NULLIF(CAST(SUM(shots_for) AS DOUBLE), 0), 4)
                   AS shooting_pct
        FROM fact_team_game_stats
        GROUP BY team_id
        ORDER BY shooting_pct DESC NULLS LAST, team_id
    """,
    # §4 — rolling trends read from the metric view
    "rolling_trends": """
        SELECT team_id, game_date, shots_against_3game_avg,
               shots_for_10game_avg, shots_for_season_avg
        FROM team_shot_metrics
        WHERE games_played_in_season >= 3
        ORDER BY team_id, game_date
    """,
    # §5 — hot-streak detection: 5-game avg above season avg at the latest game
    "hot_streaks": """
        SELECT m.team_id, m.game_date, m.shots_for_5game_avg,
               m.shots_for_season_avg
        FROM team_shot_metrics m
        WHERE (m.team_id, m.game_date) IN (
                  SELECT team_id, MAX(game_date)
                  FROM team_shot_metrics GROUP BY team_id
              )
          AND m.shots_for_5game_avg > m.shots_for_season_avg
    """,
    # §6 — shot differential
    "shot_differential": """
        SELECT team_id,
               SUM(shots_for) - SUM(shots_against) AS shot_diff
        FROM fact_team_game_stats
        GROUP BY team_id
        ORDER BY shot_diff DESC, team_id
    """,
    # §7 — home vs away comparison via two CTEs
    "home_vs_away": """
        WITH home_stats AS (
            SELECT team_id, AVG(shots_for) AS home_sog
            FROM fact_team_game_stats WHERE home_away = 'home' GROUP BY team_id
        ),
        away_stats AS (
            SELECT team_id, AVG(shots_for) AS away_sog
            FROM fact_team_game_stats WHERE home_away = 'away' GROUP BY team_id
        )
        SELECT h.team_id, ROUND(h.home_sog, 2) AS home_sog,
               ROUND(a.away_sog, 2) AS away_sog,
               ROUND(h.home_sog - a.away_sog, 2) AS home_edge
        FROM home_stats h JOIN away_stats a ON h.team_id = a.team_id
        ORDER BY home_edge DESC, h.team_id
    """,
    # §8-10 — recent-window ML feature extraction (interval filter)
    "ml_features_recent": f"""
        SELECT team_id, game_id, game_date,
               shots_for, shots_against, goals_for, goals_against,
               CAST(won AS INT) AS label_won
        FROM fact_team_game_stats
        WHERE game_date >= DATE '{AS_OF}' - INTERVAL 15 DAY
        ORDER BY team_id, game_date
    """,
    # odds_matching_queries.sql §1 — crosswalk quality overview
    "crosswalk_quality": """
        SELECT match_strategy, COUNT(*) AS n,
               ROUND(AVG(match_confidence), 3) AS avg_confidence
        FROM stg_player_name_crosswalk
        GROUP BY match_strategy
        ORDER BY avg_confidence DESC
    """,
    # §3 — unmatched odds names (anti join)
    "unmatched_odds_names": """
        SELECT DISTINCT o.odds_player_name
        FROM stg_odds_player_props o
        LEFT JOIN stg_player_name_crosswalk x
               ON o.odds_player_name = x.odds_player_name
        WHERE x.odds_player_name IS NULL
        ORDER BY o.odds_player_name
    """,
    # §4-5 — betting performance by line value
    "betting_performance": """
        SELECT line_value,
               COUNT(CASE WHEN outcome = 'over' THEN 1 END) AS overs,
               COUNT(CASE WHEN outcome = 'under' THEN 1 END) AS unders,
               COUNT(CASE WHEN outcome = 'push' THEN 1 END) AS pushes,
               ROUND(COUNT(CASE WHEN outcome = 'over' THEN 1 END)
                     / NULLIF(CAST(COUNT(CASE WHEN outcome <> 'push'
                                   AND outcome IN ('over','under') THEN 1 END) AS DOUBLE), 0), 3)
                   AS over_rate
        FROM fact_player_sog_props_v2
        WHERE outcome IN ('over', 'under', 'push')
        GROUP BY line_value
        ORDER BY line_value
    """,
    # §6 — top performers vs their lines
    "top_line_beaters": """
        SELECT odds_player_name,
               COUNT(*) AS props,
               ROUND(AVG(actual_sog - line_value), 2) AS avg_beat_line_by
        FROM fact_player_sog_props_v2
        WHERE outcome IN ('over', 'under', 'push')
        GROUP BY odds_player_name
        ORDER BY avg_beat_line_by DESC, odds_player_name
        LIMIT 25
    """,
    # §7 — daily trend
    "daily_over_trend": """
        SELECT game_date,
               COUNT(*) AS props,
               COUNT(CASE WHEN outcome = 'over' THEN 1 END) AS overs
        FROM fact_player_sog_props_v2
        WHERE outcome IN ('over', 'under', 'push')
        GROUP BY game_date
        ORDER BY game_date
    """,
}
