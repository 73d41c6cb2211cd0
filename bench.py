"""Engine benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Output contract: the calibration anchors, the per-query ``cpu_detail``
block and each regression-gate probe print as their own earlier stdout
lines (``{"probe": "<name>", ...}``); the compact headline JSON —

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <scale factor>}

— is the FINAL stdout line, short enough that a ~2,000-char tail of the
run always contains it. A probe that throws records {"error": ...}
instead of killing the run; probes never touch the headline line.

Each query is materialized through the noop sink (full computation incl.
shuffles/windows, no driver collect). A warmup query first touches every
input table so JIT/codegen and file-footer caching don't pollute the first
measurement.

Probes (skip them with SPARK_GRAFT_SKIP_PROBES=1 for fast local
iteration): ``dedup_scale_probe`` (near-dup crossover and recall),
``pipeline_e2e_probe`` (CLI end to end at x1) and
``pipeline_scale_probe`` (staging and DAG decade exponents, gated at the
calibrated width). Results of the retired one-off probes are kept in
``BENCH_probes.json``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import reduce
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from nhl_data_pipeline_spark.catalog import TABLES, load_table
from nhl_data_pipeline_spark.plans.registry import all_queries
from nhl_data_pipeline_spark.session import codegen_compiles, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _git_commit() -> str:
    """Engine commit of the running tree, carried in the headline as
    ``engine_commit`` so every recorded number names the one engine
    version that produced it; numbers from different commits must never
    be compared as if they were one run."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True,
            text=True,
            cwd=Path(__file__).resolve().parent,
            timeout=10,
        )
        return out.stdout.strip() or "unknown"
    except Exception:  # noqa: BLE001
        return "unknown"


class _StageMeter:
    """Per-query executor CPU / run time / shuffle-write totals from the
    Spark UI REST API (stage-level StageData): executor CPU is a
    first-class per-query measurement beside wall time, so a claim that
    work grows sublinearly rests on CPU numbers, not on prose.

    Mechanics: ``snap()`` returns the highest completed stageId after
    draining the listener bus; ``since(mark)`` sums ``executorCpuTime``
    (ns), ``executorRunTime`` (ms) and ``shuffleWriteBytes`` over the
    completed stages that appeared after the mark. Marker-based deltas
    (not cumulative totals) stay correct when the UI evicts OLD stages;
    bench sessions also raise ``spark.ui.retainedStages`` so eviction
    never bites mid-query. Disabled automatically when the UI is off
    (``uiWebUrl`` is None) — every caller must tolerate None deltas.
    """

    def __init__(self, spark) -> None:
        self._spark = spark
        url = spark.sparkContext.uiWebUrl
        self.enabled = bool(url)
        if self.enabled:
            self._base = (
                f"{url}/api/v1/applications/"
                f"{spark.sparkContext.applicationId}"
            )

    def _drain(self) -> None:
        # The status store is fed asynchronously by the listener bus;
        # without a drain the just-finished stages may not be visible.
        # listenerBus is private[spark] — bytecode-public, callable via
        # py4j; fall back to a fixed sleep if the API moves.
        try:
            self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(
                10_000
            )
        except Exception:  # noqa: BLE001
            time.sleep(0.5)

    def _stages(self) -> list[dict] | None:
        """Completed StageData rows, or None when the REST read fails.

        The read is guarded HERE, not in callers' per-query
        try blocks — a transient UI hiccup (port reset, URLError, slow
        listener) must degrade to "no CPU detail for this query", never
        masquerade as a query failure: the query's wall time is real and
        must stay out of the slow-penalty path.
        """
        import urllib.request

        try:
            with urllib.request.urlopen(
                self._base + "/stages?status=complete", timeout=30
            ) as r:
                return json.loads(r.read())
        except Exception:  # noqa: BLE001 — REST failure ≠ query failure
            return None

    def snap(self) -> int | None:
        """Highest completed stageId; -1 when disabled or the store is
        empty; None when the REST read failed (distinct from -1 so a
        failed snapshot can never become since(-1) = "sum all history")."""
        if not self.enabled:
            return -1
        self._drain()
        stages = self._stages()
        if stages is None:
            return None
        return max((s["stageId"] for s in stages), default=-1)

    def since(self, mark: int | None) -> dict | None:
        if not self.enabled or mark is None:
            return None
        self._drain()
        stages = self._stages()
        if stages is None:
            return None
        new = [s for s in stages if s["stageId"] > mark]
        return {
            "cpu_sec": sum(s.get("executorCpuTime", 0) for s in new) / 1e9,
            "run_sec": sum(s.get("executorRunTime", 0) for s in new) / 1e3,
            "shuffle_write_bytes": float(
                sum(s.get("shuffleWriteBytes", 0) for s in new)
            ),
        }


def _sf_from_dir(d: str) -> float:
    name = Path(d).name  # e.g. sf0.1
    try:
        return float(name.removeprefix("sf"))
    except ValueError:
        return -1.0


def _calibration_anchor(spark) -> float:
    """Fixed, data-independent CPU-bound micro-op, reported as the MIN
    of 5 runs.

    Why min: back-to-back sf10/sf30 sweep legs measured the median-of-3
    anchor 25% apart (1.039 vs 0.832) while the same legs' QUERY totals
    agreed to 3.6% — the ~1 s anchor op is noisier than what it
    normalizes, so dividing by it injects up to log(1.25)/log(3.33) ≈
    0.19 of phantom exponent. Wall-clock noise on a fixed op is
    one-sided (runs only ever get slower), so the min over 5 is the
    robust estimator of the op's true cost — and it subsumes warmup
    slicing, since cold runs are never the min.

    Purpose: cross-ENVIRONMENT normalization. Identical pinned plans have
    measured 1.5-1.7× apart between the driver's bench env and same-day
    local runs (25.88 vs 16.58 s, uniform across all queries), and
    ±15-30% between runs in one booted container — without a
    data-independent anchor those gaps can only be argued, not divided
    out. normalized_total = total / (anchor / reference_anchor).

    The op: 2^24 rows → md5(id) → substring group key → hash-agg with a
    count and a decimal-exact sum. Exercises exactly this engine's hot
    mix (string/hash codegen + shuffle hash aggregation + decimal sums),
    touches no input table, and its plan cannot drift with data.
    """
    from pyspark.sql import functions as F

    def once() -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        (
            spark.range(0, 1 << 24, 1, 32)
            .select(F.md5(F.col("id").cast("string")).alias("h"), "id")
            .groupBy(F.substring("h", 1, 4).alias("k"))
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("id").cast("decimal(18,0)")).alias("s"),
            )
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    return round(min(once() for _ in range(5)), 3)


def _calibration_anchors(spark) -> dict[str, float]:
    """THREE fixed, data-independent anchor shapes.

    A single CPU anchor over-corrected across hosts: driver/local
    anchor ratio 1.48× vs a bench-total ratio of 1.19× — normalizing the
    driver total by it yielded a driver time FASTER than local, which is
    impossible. The environment gap evidently does not live uniformly in
    JVM-CPU speed, so one shape cannot transfer. Emitting one anchor per
    execution COMPONENT lets a reader attribute the gap instead:

    - ``anchor_sec``      — JVM codegen + hash-agg (the original single
      anchor, kept under its old key so the committed artifacts stay
      comparable);
    - ``anchor_shuffle_sec`` — a fixed 2^22-row round-trip through a
      hash-partitioned exchange (shuffle write + fetch + read path:
      serialization, disk, scheduler);
    - ``anchor_arrow_sec``   — a 2^21-row mapInPandas round-trip
      (Python worker launch/reuse + Arrow (de)serialization — the
      component that prices every applyInPandas/mapInPandas stage).

    Estimator: min of 5 runs (see _calibration_anchor).
    Cross-ENV normalization claims are scoped to same-host legs (the
    sweep's use); cross-host comparisons should quote per-component
    ratios, not divide by any single shape.
    """
    from pyspark.sql import functions as F

    def timed(build) -> float:
        def once() -> float:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        # min of 5, same one-sided-noise reasoning as _calibration_anchor.
        return round(min(once() for _ in range(5)), 3)

    def shuffle_shape():
        # repartition on a computed key: a real map→exchange→reduce round
        # trip of 4M narrow rows; the post-shuffle projection keeps the
        # read side from being optimized into the noop sink.
        return (
            spark.range(0, 1 << 22, 1, 32)
            .repartition(64, (F.col("id") % 9973).alias("k"))
            .select((F.col("id") + 1).alias("v"))
        )

    def arrow_shape():
        def roundtrip(batches):
            for pdf in batches:
                pdf["v"] = pdf["id"] * 2 + 1
                yield pdf[["v"]]

        return spark.range(0, 1 << 21, 1, 32).mapInPandas(
            roundtrip, "v long"
        )

    return {
        "anchor_sec": _calibration_anchor(spark),
        "anchor_shuffle_sec": timed(shuffle_shape),
        "anchor_arrow_sec": timed(arrow_shape),
    }


def main() -> None:
    # UI on for bench runs (off everywhere else, session.py): the REST
    # status API is the source of the per-query executor-CPU totals that
    # back every scale claim. Launch-time conf — bench owns the first
    # session in its process. Retention raised so marker-based deltas
    # never lose an un-read stage; task rows capped (stage SUMMARIES
    # carry the metrics this needs).
    spark = get_spark(
        "bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "50000",
            "spark.ui.retainedJobs": "50000",
            "spark.ui.retainedTasks": "100",
        },
    )
    meter = _StageMeter(spark)
    specs = {n: s for n, s in all_queries().items() if s.bench}

    # Warmup: touch every table (footer reads), then run each headline
    # query once AT THE TARGET SF. Warming at a smaller sf is not enough:
    # AQE picks different runtime join strategies by actual size (everything
    # broadcasts at sf0.001; the big joins stay sort-merge at sf0.1), so the
    # small-sf warmup compiles the wrong whole-stage code and the first
    # target-sf run pays ~0.5-2s of codegen/JIT per query (verified by
    # repeat-run profiling). Warming at the target compiles every runtime
    # plan variant the timed runs will execute.
    for t in TABLES:
        load_table(spark, SF_DIR, t).limit(1).write.format("noop").mode(
            "overwrite"
        ).save()
    # Calibration anchor FIRST (before query JIT state accumulates): a
    # fixed CPU-bound micro-op whose time depends only on the
    # environment, emitted in the headline JSON so cross-env /
    # cross-round totals can be normalized by the anchor ratio.
    anchors = _calibration_anchors(spark)
    print(json.dumps({"probe": "calibration_anchor", **anchors}))
    sys.stdout.flush()
    # Per-query measurement blocks: 2 warmup runs, then the MEDIAN of 3
    # timed runs. Per-plan steady state needs consecutive executions of
    # the SAME plan (HotSpot promotes the generated classes to C2 after
    # enough invocations; a query timed 10 queries after its warmup reads
    # ~2× its repeat-run time, and the number depends on loop ORDER).
    # Blocked warmup + median makes each number the query's own steady
    # state, independent of its neighbors. clearCache before every run:
    # persisted intermediates are recomputed inside the measurement —
    # only JIT/codegen state stays warm, never data.
    timings: dict[str, float] = {}
    # Per-rep times: the headline keeps the median, but the artifact
    # carries every timed rep — run-to-run spread is the kmeans-variance
    # signal, and max/min per query come from these, not from stitching
    # runs by hand.
    reps: dict[str, list[float]] = {}
    # Per-query executor CPU / run-time / shuffle-write: CPU is the work
    # signal wall-clock can't give on a fixed
    # box — a wall exponent >1 with CPU exponent ≤1 is scheduling
    # asymptote, not per-task state growth. min over the timed reps,
    # same one-sided-noise estimator as the anchors (GC/JIT only ADD
    # cpu). The meter reads OUTSIDE the timed window (snap before t0,
    # since() after the clock stops), so wall numbers are unaffected.
    cpu_min: dict[str, float] = {}
    cpu_reps: dict[str, list[float]] = {}
    run_min: dict[str, float] = {}
    shuf_w: dict[str, float] = {}
    # Janino compiles over the timed reps: generated classes the cache
    # did not hold, evicted or new because the code differs per run.
    compiles: dict[str, int] = {}
    for name, spec in specs.items():
        runs: list[float] = []
        deltas: list[dict] = []
        try:
            for i in range(5):
                spark.catalog.clearCache()
                if i == 2:
                    compiled = codegen_compiles(spark)
                mark = meter.snap() if i >= 2 else -1
                t0 = time.perf_counter()
                spec.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                if i >= 2:
                    runs.append(time.perf_counter() - t0)
                    d = meter.since(mark)
                    if d is not None:
                        deltas.append(d)
        except Exception as exc:  # noqa: BLE001
            # Surface it loudly AND penalize: a broken query must read as
            # SLOW in the summed headline (a negative marker would make
            # the total smaller — a regression disguised as a speedup).
            print(f"WARNING: bench run failed for {name}: {exc!r}", file=sys.stderr)
            timings[name] = 999.0
            continue
        compiles[name] = codegen_compiles(spark) - compiled
        reps[name] = [round(r, 3) for r in runs]
        timings[name] = round(sorted(runs)[len(runs) // 2], 3)
        if deltas:
            cpu_reps[name] = [round(d["cpu_sec"], 3) for d in deltas]
            cpu_min[name] = min(cpu_reps[name])
            run_min[name] = round(min(d["run_sec"] for d in deltas), 3)
            shuf_w[name] = min(d["shuffle_write_bytes"] for d in deltas)

    # CPU detail on its OWN penultimate-ish stdout line: the headline
    # line must stay well under the driver's ~2,000-char tail window
    # (a longer headline was once truncated), and readers of the full
    # capture pick the per-query CPU block up by its "probe" key.
    if cpu_min:
        print(
            json.dumps(
                {
                    "probe": "cpu_detail",
                    "cpu": cpu_min,
                    "cpu_reps": cpu_reps,
                    "run": run_min,
                    "shuffle_write": shuf_w,
                    "compiles": compiles,
                    "cpus": spark.sparkContext.defaultParallelism,
                }
            )
        )
        sys.stdout.flush()

    # Regression-gate probes, each on its own EARLY stdout line. A probe
    # failure is recorded, never fatal — the headline line below must
    # always be the last thing on stdout.
    if os.environ.get("SPARK_GRAFT_SKIP_PROBES") != "1":
        for pname, pfn in (
            ("dedup_scale_probe", _dedup_scale_probe),
            ("pipeline_e2e_probe", _pipeline_e2e_probe),
            ("pipeline_scale_probe", _pipeline_scale_probe),
        ):
            try:
                result = pfn(spark)
            except Exception as exc:  # noqa: BLE001
                result = {"error": repr(exc)[:400]}
            print(json.dumps({"probe": pname, **result}))
            sys.stdout.flush()

    # Headline JSON: compact, LAST stdout line — the driver's artifact.
    print(
        json.dumps(
            {
                "metric": "sum of headline query wall-clock (noop sink)",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "runs": reps,
                "sf": _sf_from_dir(SF_DIR),
                **anchors,
                "engine_commit": _git_commit(),
                "cpus": spark.sparkContext.defaultParallelism,
            }
        )
    )


def _gate_calibrated(spark) -> bool:
    """True when the probe exponent gates' 0.95 ceilings apply: they were
    measured/calibrated at 32 cores. A lower-core bench leg still runs
    the probes and records the exponents, but a fixed-cost-amortization
    artifact at 8 cores must not read as a structural regression (an
    8-core leg read staging 1.035 with the identical engine that reads
    0.455 at 32, BENCH_r12_c8.json)."""
    return spark.sparkContext.defaultParallelism >= 32


def _pipeline_e2e_probe(spark) -> dict:
    """Operational SLA number for the one-command pipeline (cli.py): the
    reference's implicit budget is a 600 s dbt-Cloud job (BASELINE.md).

    ``e2e_fixtures``: the full CLI path — bronze fixtures → 25-model DAG
    (table models materialized to a scratch warehouse, Hilbert writer
    included) → the 233-instance reference quality suite → the CSV
    export manifest — timed end-to-end at ×1. The staging path at
    replicated scale is ``pipeline_scale_probe``'s ``staging_cj_x100``.
    """
    import shutil
    import tempfile

    from nhl_data_pipeline_spark.nhl.pipeline import run_pipeline
    from nhl_data_pipeline_spark.nhl.quality_suite import run_reference_suite
    from nhl_data_pipeline_spark.sources.export import export_all

    fixtures = (
        Path(__file__).resolve().parent
        / "nhl_data_pipeline_spark"
        / "nhl"
        / "bronze_fixtures"
    )
    bronze = {
        t: spark.read.parquet(str(fixtures / t))
        for t in ("game_boxscore", "game_pbp", "schedule", "odds_player_props")
    }
    out: dict[str, float] = {}
    spark.catalog.clearCache()
    tmp = tempfile.mkdtemp(prefix="nhl_e2e_")
    try:
        t0 = time.perf_counter()
        models = run_pipeline(
            spark, bronze, warehouse_dir=f"{tmp}/wh"
        ).models
        out["e2e_models"] = float(len(models))
        checks = run_reference_suite(models, bronze)
        out["e2e_checks"] = float(len(checks))
        out["e2e_checks_failed"] = float(
            sum(1 for c in checks if not c.passed)
        )
        export_all(models, f"{tmp}/csv")
        out["e2e_fixtures_sec"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# Statements expected to return zero rows over the ×100 model lake —
# pinned so any statement going empty fails loudly. The set is EMPTY:
# team_3's `team_id = 10` is covered
# by the OTT/WPG fixture teams, and team_8's `CURRENT_DATE - INTERVAL
# '15 days'` window is pinned to the injected as_of=2024-11-15 via
# dialect.rewrite_current_date, so its window intersects the fixture
# season — all 18 statements must now produce rows.
_WORKSHEET_EXPECTED_EMPTY: set[str] = set()
_WORKSHEET_EMPTY_CAUSE = "none expected empty"
_WORKSHEET_AS_OF = "2024-11-15"  # run_pipeline's injected as_of


def _pipeline_scale_probe(spark) -> dict:
    """Second-decade scaling for the NHL model DAG + the full analyst
    worksheet corpus at replicated scale.

    - ``staging_cj_x100/x1000``: bronze boxscore+pbp replicated ×100 and
      ×1000 with DISTINCT game ids via a single-plan crossJoin-range
      replicator (a reduce-union replicator builds an n-branch plan —
      analysis-bound past a few hundred replicas; the crossJoin form is
      how you'd actually fan out synthetic load at scale). Same id
      policy (r*20 payload-id offsets, injective for the <20 distinct
      fixture games). Timed through the volume-bound
      bronze→silver path (stg_games + player flatten + shot-event
      explode → count), counts asserted to scale EXACTLY ×n at both
      decades, and the per-decade exponent emitted:
      exponent = log10(t_x1000 / t_x100) — sublinear (<1) means the
      staging DAG adds no superlinear stage across the second decade.
    - ``dag_x100``: the FULL model DAG (run_pipeline with table/Z-order
      materialization, 25 models) built over the ×100 lake, timed; model
      row counts sanity-asserted (games models scale ×100; odds inputs
      stay ×1 — shared game_dates give the props fact an artificial
      ×100 match fan-out, which is fine for an executability/scale
      probe and is documented here, but means odds-side counts are NOT
      asserted to a clean multiple).
    - ``worksheets_x100``: ALL 18 verbatim reference worksheet
      statements (10 team + 8 odds) executed over that ×100 model lake
      through the dialect shim — the fixture-scale pytest corpus run at
      replicated scale, with the odds suite's semantic spot-check intact
      (worksheet §1 crosswalk overview == an independent Spark-native
      recount over the same lake). Non-empty counts recorded; the four
      odds statements that are non-empty at ×1 must stay non-empty.
      Skipped (recorded) when /root/reference is absent.
    """
    import math
    import re
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from nhl_data_pipeline_spark.nhl import facts, schemas, staging
    from nhl_data_pipeline_spark.nhl.pipeline import run_pipeline
    from nhl_data_pipeline_spark.plans.dialect import (
        resolve_dbt_refs,
        spark_sql_compat,
    )

    fixtures = (
        Path(__file__).resolve().parent
        / "nhl_data_pipeline_spark"
        / "nhl"
        / "bronze_fixtures"
    )
    bronze = {
        t: spark.read.parquet(str(fixtures / t))
        for t in ("game_boxscore", "game_pbp", "schedule", "odds_player_props")
    }

    def replicate(raw, schema, n: int):
        p = F.from_json("payload", schema)
        return (
            raw.crossJoin(spark.range(n).select(F.col("id").alias("_r")))
            .withColumn(
                "payload",
                F.to_json(p.withField("id", p["id"] + F.col("_r") * 20)),
            )
            .withColumn("game_id", F.col("game_id") + F.col("_r") * 20)
            .drop("_r")
            .repartition(spark.sparkContext.defaultParallelism)
        )

    dim_player = spark.createDataFrame(
        staging.stg_player_game_stats(bronze["game_boxscore"])
        .select("player_id")
        .distinct()
        .toPandas()
        .assign(player_name="Probe Player", position_code="C", position_type="F")
    )

    def silver_counts(box, pbp):
        return (
            staging.stg_games(box).count(),
            staging.stg_player_game_stats(box).count(),
            facts.fact_shot_events(pbp, dim_player).count(),
        )

    out: dict[str, float] = {}
    base = silver_counts(bronze["game_boxscore"], bronze["game_pbp"])

    def staged_at(n: int) -> tuple[tuple, float]:
        spark.catalog.clearCache()
        box = replicate(bronze["game_boxscore"], schemas.boxscore_payload(), n)
        pbp = replicate(bronze["game_pbp"], schemas.pbp_payload(), n)
        t0 = time.perf_counter()
        c = silver_counts(box, pbp)
        return c, time.perf_counter() - t0

    staged_at(100)  # warmup: compiles every silver plan variant
    # min-of-2 per leg: the gate read 0.848 → 0.933 on one host vs 0.81
    # on another — environment noise, not
    # growth, and single-shot legs left 0.017 of cushion to the 0.95
    # gate. Wall-clock noise is one-sided (times only inflate), so the
    # min of 2 reps per leg is the noise-robust estimator — the same
    # reasoning as the anchors' min — and both reps are recorded so drift
    # stays diagnosable.
    #
    # min-of-2 alone still read 0.921 on one host vs 0.813 on another —
    # the environment
    # drifts BETWEEN the x100 and x1000 measurement blocks, which a
    # per-leg min cannot divide out. Apply the sweeps' leg-matched
    # anchor recipe: a fixed data-independent micro-anchor measured
    # immediately before each leg, each leg's time divided by ITS OWN
    # anchor before the min, exponent computed from the normalized
    # minima. Raw reps and anchors stay in the artifact.
    # The leg anchor is the SAME shape/estimator as the headline
    # calibration anchor (2^24-row md5 hash-agg, clearCache, min-of-5):
    # a first cut used a lighter 2^23 min-of-3 shape and its own noise
    # (1.48x spread across the probe) exceeded what it was normalizing.
    # Measured here under interleaved heavy jobs: 1.09x spread, ≈0.04
    # exponent noise on a one-decade step.
    leg_anchor = lambda: _calibration_anchor(spark)  # noqa: E731

    # Warm the anchor's OWN codegen to C2 steady state before the first
    # measured use: without this the four anchor readings drift downward
    # ~18% across the probe (the anchor JIT-ing, not the environment),
    # which normalization would misread as the x1000 legs running in a
    # faster environment — inflating the exponent it exists to stabilize.
    leg_anchor()
    a100a = leg_anchor()
    c100, t100a = staged_at(100)
    a100b = leg_anchor()
    _, t100b = staged_at(100)
    a1000a = leg_anchor()
    c1000, t1000a = staged_at(1000)
    a1000b = leg_anchor()
    _, t1000b = staged_at(1000)
    t100, t1000 = min(t100a, t100b), min(t1000a, t1000b)
    t100n = min(t100a / a100a, t100b / a100b)
    t1000n = min(t1000a / a1000a, t1000b / a1000b)
    assert c100 == tuple(100 * c for c in base), (base, c100)
    assert c1000 == tuple(1000 * c for c in base), (base, c1000)
    out["staging_cj_x100_sec"] = round(t100, 3)
    out["staging_cj_x1000_sec"] = round(t1000, 3)
    out["staging_cj_x100_reps"] = [round(t100a, 3), round(t100b, 3)]
    out["staging_cj_x1000_reps"] = [round(t1000a, 3), round(t1000b, 3)]
    out["staging_cj_anchors"] = [
        round(a, 3) for a in (a100a, a100b, a1000a, a1000b)
    ]
    out["staging_x1000_rows"] = float(sum(c1000))
    out["staging_exponent_raw"] = round(math.log10(t1000 / t100), 3)
    out["staging_exponent"] = round(math.log10(t1000n / t100n), 3)
    # The second-decade staging exponent is a GATE, not just a
    # recording — a model change that makes staging superlinear fails the
    # bench run instead of drifting (first measured 0.848; 0.95 leaves
    # headroom for environment noise while still catching anything
    # structurally worse than linear). Gated on the anchor-normalized
    # value.
    #
    # The 0.95 ceiling was calibrated at 32 cores. At lower core counts
    # the ×100 leg no longer saturates the box while ×1000 does, so fixed
    # per-leg costs amortize differently and the exponent reads higher
    # with NO per-row growth (an 8-core leg read 1.035 and killed the
    # probe, BENCH_r12_c8.json). Off the calibrated width the value is
    # recorded, not asserted — the 32-core driver leg keeps the hard gate.
    if _gate_calibrated(spark):
        assert out["staging_exponent"] <= 0.95, out["staging_exponent"]
    else:
        out["staging_exponent_gate"] = (
            "recorded only: gate calibrated at 32 cores, "
            f"running at {spark.sparkContext.defaultParallelism}"
        )

    box100 = replicate(bronze["game_boxscore"], schemas.boxscore_payload(), 100)
    pbp100 = replicate(bronze["game_pbp"], schemas.pbp_payload(), 100)
    # ×1 baseline for the game-grain DAG output (fact_game_results is 2
    # rows per FINISHED game — game_state-filtered, so the multiple must
    # be measured, not assumed from the game count).
    fgr1 = facts.fact_game_results(
        staging.stg_games(bronze["game_boxscore"])
    ).count()
    tmp = tempfile.mkdtemp(prefix="nhl_scale_")
    try:
        # The full-DAG leg gets the same asserted
        # exponent ceiling as staging — time the 25-model DAG at ×10 AND
        # ×100 and gate the decade exponent. Fixed per-model costs
        # (planning, Z-order write setup) dominate at ×10, so the
        # expected reading is well under 1; anything ≥ 0.95 means a
        # model went superlinear in data volume.
        spark.catalog.clearCache()
        box10 = replicate(bronze["game_boxscore"], schemas.boxscore_payload(), 10)
        pbp10 = replicate(bronze["game_pbp"], schemas.pbp_payload(), 10)
        t0 = time.perf_counter()
        run_pipeline(
            spark,
            {
                "game_boxscore": box10,
                "game_pbp": pbp10,
                "schedule": bronze["schedule"],
                "odds_player_props": bronze["odds_player_props"],
            },
            warehouse_dir=f"{tmp}/wh10",
        )
        out["dag_x10_sec"] = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        models = run_pipeline(
            spark,
            {
                "game_boxscore": box100,
                "game_pbp": pbp100,
                "schedule": bronze["schedule"],
                "odds_player_props": bronze["odds_player_props"],
            },
            warehouse_dir=f"{tmp}/wh",
        ).models
        out["dag_x100_sec"] = round(time.perf_counter() - t0, 3)
        assert models["fact_game_results"].count() == 100 * fgr1
        out["dag_x100_models"] = float(len(models))
        out["dag_exponent"] = round(
            math.log10(out["dag_x100_sec"] / out["dag_x10_sec"]), 3
        )
        # Same core-count calibration rule as the staging gate.
        if _gate_calibrated(spark):
            assert out["dag_exponent"] <= 0.95, out["dag_exponent"]
        else:
            out["dag_exponent_gate"] = (
                "recorded only: gate calibrated at 32 cores, "
                f"running at {spark.sparkContext.defaultParallelism}"
            )

        team_ws = Path(
            "/root/reference/dbt_nhl/analysis/team_shot_example_queries.sql"
        )
        odds_ws = Path(
            "/root/reference/dbt_nhl/analysis/odds_matching_queries.sql"
        )
        if not (team_ws.exists() and odds_ws.exists()):
            out["worksheets_x100"] = -1.0  # reference tree absent: recorded
            return out

        def stmts_of(path: Path) -> list[str]:
            raw = re.sub(r"--[^\n]*", "", path.read_text())
            return [s.strip() for s in raw.split(";") if s.strip()]

        from pyspark.sql.types import DateType

        date_cols = {
            f.name
            for v in ("fact_team_game_stats", "team_shot_metrics")
            for f in spark.table(v).schema.fields
            if isinstance(f.dataType, DateType)
        }
        t0 = time.perf_counter()
        executed = nonempty = 0
        empty: list[str] = []
        for i, s in enumerate(stmts_of(team_ws)):
            n = spark_sql_compat(
                spark,
                s,
                name_map={"nhl_analytics.silver.": ""},
                date_columns=date_cols,
                as_of=_WORKSHEET_AS_OF,
            ).count()
            executed += 1
            nonempty += 1 if n else 0
            if not n:
                empty.append(f"team_{i}")
        odds_counts = []
        for i, s in enumerate(stmts_of(odds_ws)):
            odds_counts.append(
                spark_sql_compat(spark, resolve_dbt_refs(s)).count()
            )
            executed += 1
            nonempty += 1 if odds_counts[-1] else 0
            if not odds_counts[-1]:
                empty.append(f"odds_{i}")
        out["worksheets_x100_sec"] = round(time.perf_counter() - t0, 3)
        out["worksheets_x100_executed"] = float(executed)
        out["worksheets_x100_nonempty"] = float(nonempty)
        out["worksheets_x100_empty"] = ",".join(empty)
        out["worksheets_x100_empty_cause"] = _WORKSHEET_EMPTY_CAUSE
        assert executed == 18, executed
        # The EXACT expected-empty set is pinned —
        # any OTHER statement going empty (a regression silently
        # emptying a join) fails the probe loudly, as does a fixture /
        # date change making these two produce rows.
        assert set(empty) == _WORKSHEET_EXPECTED_EMPTY, (
            empty,
            _WORKSHEET_EXPECTED_EMPTY,
        )
        assert all(odds_counts[i] > 0 for i in (0, 1, 3, 7)), odds_counts
        # Semantic spot-check intact at scale: worksheet §1 == direct recount
        got = {
            r["match_method"]: r["num_players"]
            for r in spark_sql_compat(
                spark, resolve_dbt_refs(stmts_of(odds_ws)[0])
            ).collect()
        }
        want = {
            r["match_method"]: r["n"]
            for r in models["stg_player_name_crosswalk"]
            .groupBy("match_method")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want and len(got) >= 2, (got, want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _dedup_scale_probe(spark) -> dict:
    """Crossover and recall evidence for the near-dup family.

    The rule it measures: exact Jaccard runs the naive all-shingle join on
    clean corpora and the same join behind ``drop_stop_shingles`` under
    boilerplate skew; MinHash-LSH is the approximate path. The naive join
    timed on the built corpora is the product's
    ``operators/dedup.py::jaccard_pairs`` with no width (the planner's
    exchanges), the pair join ``dedup_ngram_jaccard`` runs.
    - Clean corpora (sf0.01 and SF_DIR documents as-is): the naive join
      and MinHash-LSH, timed side by side.
    - Hot-shingle skew (``sf0.1_boiler3k``: 3000 docs sharing a 60-token
      boilerplate suffix, the web-template regime): the naive join's
      fan-out is quadratic in per-shingle frequency, and dropping shingles
      with df > 100 restores clean-corpus speed. MinHash-LSH finishes
      fast here but the shared suffix dominates the signatures, so its
      candidate count is recorded: precision collapses and an exact
      verifier would inherit a near-quadratic workload.
    - One decade up (``sf1_50k``: 50K docs, replica-salted ×10 — see the
      block below): the same three legs plus quality numbers, the
      stop-cap's recall against the exact pair set and MinHash-LSH
      candidate recall, so the speed/recall trade is measured.
    """
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from nhl_data_pipeline_spark.operators import dedup as D
    from nhl_data_pipeline_spark.operators import text as X

    out: dict[str, dict[str, float]] = {}
    qs = all_queries()

    def timed(probe: dict, label: str, df) -> None:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        probe[label] = round(time.perf_counter() - t0, 3)

    for sf_dir in ("/root/testdata/sf0.01", SF_DIR):
        probe: dict[str, float] = {}
        timed(probe, "ngram_jaccard_naive", qs["dedup_ngram_jaccard"].fn(spark, sf_dir))
        timed(probe, "minhash_lsh", qs["dedup_minhash_lsh"].fn(spark, sf_dir))
        out[Path(sf_dir).name] = probe

    # Hot-shingle regime: 3000 sf0.1 docs + shared 60-token boilerplate.
    # (3000, not 5000: the naive join without the stop-cap OOMs at 5000.)
    boiler = " ".join(f"footer{i} legal{i} nav{i}" for i in range(20))
    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 3000)
        .withColumn("text", F.concat_ws(" ", "text", F.lit(boiler)))
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    )
    probe = {}
    sh = D.exploded_distinct_shingles(
        docs, X.tokens(F.col("text")), 3, hash_shingles=True
    ).persist()
    timed(probe, "ngram_jaccard_naive", D.jaccard_pairs(sh))
    # Stop-shingle gate ON: drop shingles with df > 100 (the 58 boilerplate
    # shingles have df = 3000) before the same join.
    timed(
        probe,
        "ngram_jaccard_naive_stopcap100",
        D.jaccard_pairs(D.drop_stop_shingles(sh, max_df=100)),
    )
    sh.unpersist()
    # LSH candidate precision in the skewed regime (see docstring): the
    # count is the story — timing alone would mislead, since the banded
    # join only moves ids.
    from nhl_data_pipeline_spark.plans.q_text import minhash_band_pairs

    t0 = time.perf_counter()
    n_cand = minhash_band_pairs(docs).count()
    probe["minhash_lsh"] = round(time.perf_counter() - t0, 3)
    probe["minhash_lsh_candidate_pairs"] = float(n_cand)
    out["sf0.1_boiler3k"] = probe

    # sf1-equivalent decade: 10× the sf0.1 corpus (50K docs). Replica r>0
    # prefixes every 4th token with a replica salt, which kills every
    # 3-shingle window covering a mutated position: cross-replica jaccard
    # of the same doc is ~0.14 (windows at pos ≡ 1 mod 4 survive), far
    # below the 0.8 threshold, while WITHIN-replica near-dup structure is
    # preserved exactly (the same mutation hits both members of a planted
    # pair). The surviving ~1/4 of shingles are identical across all 10
    # replicas — df × 10 on a quarter of the universe — so the probe
    # genuinely stresses the naive join's Σdf² fan-out one decade up, not
    # just 10× more rows of independent text.
    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    reps = [base]
    for r in range(1, 10):
        mut = F.array_join(
            F.transform(
                X.tokens(F.col("text")),
                lambda tok, i: F.when(
                    i % 4 == 0, F.concat(F.lit(f"r{r}x"), tok)
                ).otherwise(tok),
            ),
            " ",
        )
        reps.append(
            base.select(
                (F.col("doc_id") + r * 10_000_000).alias("doc_id"),
                mut.alias("text"),
            )
        )
    big = reduce(DataFrame.unionAll, reps).repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    probe = {}
    # One shingle table serves the timed legs and the quality metrics.
    sh = D.exploded_distinct_shingles(
        big, X.tokens(F.col("text")), 3, hash_shingles=True
    ).persist()
    timed(probe, "ngram_jaccard_naive", D.jaccard_pairs(sh))
    timed(
        probe,
        "ngram_jaccard_naive_stopcap100",
        D.jaccard_pairs(D.drop_stop_shingles(sh, max_df=100)),
    )
    timed(probe, "minhash_lsh", minhash_band_pairs(big))
    # Quality metrics at the decade scale (not just wall-clock): the
    # stop-cap's semantic cost (pairs lost by treating hot shingles as
    # stop-words) and MinHash-LSH candidate recall vs the exact pair set.
    exact = D.jaccard_pairs(sh).select("doc_a", "doc_b").persist()
    n_exact = exact.count()
    n_stopcap = (
        D.jaccard_pairs(D.drop_stop_shingles(sh, max_df=100))
        .select("doc_a", "doc_b")
        .join(exact, ["doc_a", "doc_b"], "left_semi")
        .count()
    )
    n_lsh_hit = (
        minhash_band_pairs(big)
        .join(exact, ["doc_a", "doc_b"], "left_semi")
        .count()
    )
    probe["exact_pairs"] = float(n_exact)
    probe["stopcap_recall"] = round(n_stopcap / n_exact, 4) if n_exact else 1.0
    probe["minhash_lsh_recall"] = (
        round(n_lsh_hit / n_exact, 4) if n_exact else 1.0
    )
    exact.unpersist()
    sh.unpersist()
    out["sf1_50k"] = probe
    return out


if __name__ == "__main__":
    main()
