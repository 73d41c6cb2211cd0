"""The benchmark's workloads and the measurements they share.

Each workload runs in one process against one ``local[<cores>]`` Spark
session, as a single closed-loop client: one operation at a time, the next
one starting when the previous one ends. A run is

1. set-up, repeated :data:`SETUP_REPEATS` times (session start, table or
   bronze registration, warm-up); ``setup_s`` is the median;
2. a correctness pass outside the timed window (oracle parity for the
   query mix; the run's own 230-check gate for the NHL run);
3. a fixed micro-anchor, the timed window, and the anchor again;
4. the result, built from the window's timings and, when traced, from
   the spans and Spark stage totals the tracer recorded.

Layers are timed from outside: the benchmark calls each layer's public
function (``get_spark``, ``load_table``, a ``QuerySpec`` fn,
``run_pipeline``, ``run_reference_suite``, ``export_all``) inside a span.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from pathlib import Path

import numpy as np

from tracer import EXEC_KEYS, StageScraper

CORES = os.cpu_count() or 1
SETUP_REPEATS = 3
STALL_BOUND = 0.25  # anchor drift beyond this marks the run stall_suspect
# A pass whose exec wall exceeds executor run time / cores by this factor
# is waiting on something other than its tasks (traced runs only).
STALL_WAIT_RATIO = 20.0
EXPECTED_MODELS = 24
EXPECTED_CHECKS = 230
NHL_BRONZE = ("game_boxscore", "game_pbp", "schedule", "odds_player_props")
NHL_REPLICAS = 10
_ANCHOR_BYTES = bytes(range(256)) * (1 << 18)  # 64 MiB


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tree_size(path: Path) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's marker/CRC files excluded."""
    total = files = 0
    for p in path.rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            total += p.stat().st_size
            files += 1
    return total, files


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM."""

    def hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    jvm = spark.sparkContext._gateway.proc.pid
    return (hwm_kb(os.getpid()) + hwm_kb(jvm)) / 1024.0


def tail_latency(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it.

    Returns (value, percentile, samples beyond); with fewer than 11
    samples this is the maximum, with none beyond it.
    """
    xs = sorted(samples)
    k = max(0, len(xs) - 11)
    beyond = len(xs) - 1 - k
    return xs[k], 100.0 * (k + 1) / len(xs), beyond


class Run:
    """State shared by a workload's set-up, window and result."""

    def __init__(self, work: Path, seed: int, seconds: float, tracer,
                 smoke: bool) -> None:
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.smoke = smoke
        self.spark = None
        self.setup_samples: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.anchors: list[float] = []
        self.phases: dict[str, float] = {}
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase ended."""
        now = time.perf_counter()
        self.phases[name] = now - self._mark
        self._mark = now

    # -- session -------------------------------------------------------
    def _start(self):
        from nhl_data_pipeline_spark.session import get_spark

        conf = {"spark.sql.warehouse.dir": str(self.work / "spark-warehouse")}
        if self.tracer.enabled:
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "100",
            })
        else:
            conf["spark.ui.showConsoleProgress"] = "false"
        return get_spark("perfbench", cpus=CORES, extra_conf=conf)

    def setup(self, register, warm) -> None:
        """Set up :data:`SETUP_REPEATS` times; keep the last session.

        Repeats after the first stop the session and start a new one in
        the same JVM, so the median excludes the one-time JVM launch.
        """
        tr = self.tracer
        for i in range(1 if self.smoke else SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
            t0 = time.perf_counter()
            with tr.span("setup", op=tr.new_op()):
                with tr.span("session.start"):
                    self.spark = self._start()
                with tr.span("catalog.load"):
                    frames = register(self.spark)
                with tr.span("warmup"):
                    warm(frames)
            self.setup_samples.append(time.perf_counter() - t0)
        if tr.enabled:
            tr.scraper = StageScraper(self.spark)
        self.frames = frames

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()

    # -- stall anchor ---------------------------------------------------
    def anchor(self) -> float:
        """Fixed, data-independent micro-op: SHA-256 of 64 MiB, median of
        5. It has no JIT warm-up, so before and after agree unless the
        machine's CPU availability changed; a Spark op needed ~10 warm-up
        runs, several seconds on a cold JVM, and still drifted."""
        import hashlib

        def once() -> float:
            t0 = time.perf_counter()
            hashlib.sha256(_ANCHOR_BYTES).digest()
            return time.perf_counter() - t0

        a = statistics.median(once() for _ in range(5))
        self.anchors.append(a)
        return a

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def window(self, one_pass, min_passes: int = 1) -> list[float]:
        """Run ``one_pass`` until the window is spent and it ran at least
        ``min_passes`` times."""
        self.anchor()
        walls: list[float] = []
        start = time.perf_counter()
        while len(walls) < min_passes or time.perf_counter() - start < self.seconds:
            t0 = time.perf_counter()
            one_pass(len(walls))
            walls.append(time.perf_counter() - t0)
            if self.smoke:
                break
        self.anchor()
        return walls

    # -- shared result parts ----------------------------------------------
    def stall(self, layers: dict | None) -> tuple[bool, float]:
        before, after = self.anchors[0], self.anchors[-1]
        drift = after / before
        suspect = max(drift, 1.0 / drift) - 1.0 > STALL_BOUND
        if layers and layers["exec.run_s"] > 0:
            per_core = layers["exec.run_s"] / CORES
            suspect = suspect or layers["exec.wall_s"] > STALL_WAIT_RATIO * per_core
        return suspect, drift

    def exec_totals(self, spans, passes: int) -> dict[str, float]:
        """Per-pass execution totals over ``spans`` (the exec spans)."""
        tot = {k: 0.0 for k in EXEC_KEYS}
        wall = 0.0
        for s in spans:
            wall += s.dur
            for k in EXEC_KEYS:
                tot[k] += (s.stages or {}).get(k, 0.0)
        out = {f"exec.{k}": v / passes for k, v in tot.items()}
        out["exec.wall_s"] = wall / passes
        out["exec.cpu_util"] = (
            tot["cpu_s"] / (wall * CORES) if wall > 0 else 0.0
        )
        return out


def _trace_overhead(run: Run, walls: list[float]) -> float:
    """Traced/untraced wall ratio of the window, estimated in the run: the
    untraced wall is the traced one minus the tracer's own work inside it
    (listener-bus drains, REST reads and the forced ``executedPlan()``
    step). The Spark UI's passive cost (its listener's event handling) is
    not in it; compare ``pass_s`` of a traced and an untraced run for it."""
    total = sum(walls)
    own = run.tracer.overhead_s + sum(
        s.dur for s in run.tracer.named("catalyst.plan"))
    return total / max(total - own, 1e-9)


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

def query_mix(run: Run, lake_sf: float) -> dict:
    """The 14 ``bench=True`` registry queries into the noop sink."""
    from lake import write_lake

    lake = run.work / "lake"
    counts = write_lake(str(lake), lake_sf, run.seed)
    sf_dir = str(lake)

    from nhl_data_pipeline_spark.catalog import TABLES, load_table, reset_scan_splits
    from nhl_data_pipeline_spark.plans.parity import compare_query, duck_connection
    from nhl_data_pipeline_spark.plans.registry import all_queries

    specs = {n: s for n, s in all_queries().items() if s.bench}
    names = sorted(specs)
    rng = np.random.default_rng(run.seed)
    tr = run.tracer

    def register(spark):
        return [load_table(spark, sf_dir, t) for t in TABLES]

    def warm(frames):
        for df in frames:
            df.limit(1).collect()

    run.phase("prep_s")
    run.setup(register, warm)
    run.phase("setup_total_s")
    spark = run.spark

    # Correctness, outside the window: every query once against its
    # DuckDB oracle through plans.parity (order-insensitive value hash).
    # The pass also runs each bench-only shape once, so the window is warm.
    con = duck_connection(sf_dir)
    try:
        for name in rng.permutation(names):
            spec = specs[name]
            reset_scan_splits(spark)
            spark.catalog.clearCache()
            run.attempted += 1
            try:
                r = compare_query(spark, con, name, sf_dir)
                if not r.ok:
                    run.fail(f"parity {name}: {r.detail}")
                if spec.bench_fn is not None:
                    spec.bench_fn(spark, sf_dir).write.format(
                        "noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                run.fail(f"parity {name}: {type(e).__name__}: {e}")
    finally:
        con.close()
    run.phase("correctness_s")

    lat: dict[str, list[float]] = {n: [] for n in names}

    def one_pass(i: int) -> None:
        for name in rng.permutation(names):
            spec = specs[name]
            fn = spec.bench_fn or spec.fn
            # Builders pin scan splits per query; each query starts from
            # the default, whatever ran before it.
            reset_scan_splits(spark)
            spark.catalog.clearCache()
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span(f"query:{name}", op=tr.new_op()):
                    with tr.span("plans.build"):
                        df = fn(spark, sf_dir)
                    if tr.enabled:
                        with tr.span("catalyst.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("exec", stages=True):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                run.fail(f"exec {name}: {type(e).__name__}: {e}")
                continue
            lat[name].append(time.perf_counter() - t0)

    # Two passes at least: when the machine is slow and a pass outlasts the
    # window, pass_s would otherwise be the first, least warm pass alone.
    walls = run.window(one_pass, min_passes=2)
    run.phase("window_s")
    passes = len(walls)
    pooled = [x for xs in lat.values() for x in xs]
    tail, tail_pct, tail_n = tail_latency(pooled)

    e2e = {
        "setup_s": (_median(run.setup_samples), "s"),
        "pass_s": (_median(walls), "s"),
        "query_p50_s": (_median(pooled), "s"),
        "query_tail_s": (tail, "s"),
        "peak_rss_mb": (peak_rss_mb(spark), "MB"),
    }
    detail = {
        "lake_rows": counts,
        "passes": passes,
        "pass_walls_s": walls,
        "query_tail": {"percentile": round(tail_pct, 2), "samples_beyond": tail_n,
                       "samples": len(pooled)},
        "query_median_s": {n: _median(v) for n, v in lat.items()},
    }
    layers = _query_layers(run, names, walls) if tr.enabled else None
    return _finish(run, e2e, detail, layers)


def _query_layers(run: Run, names: list[str], walls: list[float]) -> dict:
    tr = run.tracer
    passes = len(walls)
    out = _setup_layers(run)
    per_q_build: dict[str, list[float]] = {n: [] for n in names}
    per_q_plan: dict[str, list[float]] = {n: [] for n in names}
    per_q_exec: dict[str, list] = {n: [] for n in names}
    for s in tr.spans:
        if not s.name.startswith("query:"):
            continue
        q = s.name.split(":", 1)[1]
        for child in (tr.spans[c] for c in s.children):
            if child.name == "plans.build":
                per_q_build[q].append(child.dur)
            elif child.name == "catalyst.plan":
                per_q_plan[q].append(child.dur)
            else:
                per_q_exec[q].append(child)
    build = sum(sum(v) for v in per_q_build.values()) / passes
    out["plans.build_s"] = build
    out["plans.build_frac"] = build / _median(walls)
    out["catalyst.plan_s"] = sum(sum(v) for v in per_q_plan.values()) / passes
    for q in names:
        out[f"plans.build_s.{q}"] = _median(per_q_build[q])
        out[f"catalyst.plan_s.{q}"] = _median(per_q_plan[q])
        ex = per_q_exec[q]
        n = max(len(ex), 1)
        out[f"exec.cpu_s.{q}"] = sum((s.stages or {}).get("cpu_s", 0.0) for s in ex) / n
        out[f"exec.shuffle_write_bytes.{q}"] = sum(
            (s.stages or {}).get("shuffle_write_bytes", 0.0) for s in ex) / n
    out.update(run.exec_totals([s for v in per_q_exec.values() for s in v], passes))
    out["trace_overhead"] = _trace_overhead(run, walls)
    return out


def _setup_layers(run: Run) -> dict:
    tr = run.tracer
    return {
        "session.start_s": _median([s.dur for s in tr.named("session.start")]),
        "catalog.load_s": _median([s.dur for s in tr.named("catalog.load")]),
    }


# ---------------------------------------------------------------------------
# nhl_daily
# ---------------------------------------------------------------------------

def replicate_bronze(src: Path, dst: Path, replicas: int, seed: int) -> int:
    """Write the bronze fixtures ``replicas`` times with distinct game ids.

    Boxscore and play-by-play rows are copied once per replica with the
    payload's ``id`` and the ``game_id`` column shifted by ``20 * r`` for
    a seed-chosen set of offsets ``r`` (the fixtures hold under 20 games,
    so replicas never collide). Schedule and odds stay single, as in the
    reference's daily run. Returns the bronze bytes written.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    offsets = [0] if replicas == 1 else sorted(
        rng.choice(40, size=replicas, replace=False).tolist())
    for t in NHL_BRONZE:
        table = pq.read_table(src / t)
        if t in ("game_boxscore", "game_pbp"):
            parts = []
            for r in offsets:
                payload = []
                for p in table.column("payload").to_pylist():
                    doc = json.loads(p)
                    doc["id"] += 20 * r
                    payload.append(json.dumps(doc))
                parts.append(table.set_column(
                    table.schema.get_field_index("payload"), "payload",
                    pa.array(payload)).set_column(
                    table.schema.get_field_index("game_id"), "game_id",
                    pa.compute.add(table.column("game_id"), 20 * r)))
            table = pa.concat_tables(parts)
        (dst / t).mkdir(parents=True, exist_ok=True)
        # INT96 timestamps, as Spark wrote the fixtures.
        pq.write_table(table, dst / t / "part-0.parquet",
                       use_deprecated_int96_timestamps=True)
    return tree_size(dst)[0]


def nhl_daily(run: Run, replicas: int) -> dict:
    """The CLI run: bronze -> 24-model DAG -> 230 checks -> CSV export."""
    import nhl_data_pipeline_spark
    from nhl_data_pipeline_spark.nhl.pipeline import run_pipeline
    from nhl_data_pipeline_spark.nhl.quality_suite import run_reference_suite
    from nhl_data_pipeline_spark.sources.export import EXPORT_MODELS, export_all

    fixtures = Path(nhl_data_pipeline_spark.__file__).parent / "nhl" / "bronze_fixtures"
    bronze_dir = run.work / "bronze"
    bronze_bytes = replicate_bronze(fixtures, bronze_dir, replicas, run.seed)
    tr = run.tracer

    def register(spark):
        return {t: spark.read.parquet(str(bronze_dir / t)) for t in NHL_BRONZE}

    def warm(frames):
        for df in frames.values():
            df.limit(1).collect()

    run.phase("prep_s")
    run.setup(register, warm)
    run.phase("setup_total_s")
    spark = run.spark
    bronze = run.frames
    runs: list[dict] = []

    def one_pass(i: int) -> None:
        out = run.work / f"run{i}"
        shutil.rmtree(out, ignore_errors=True)
        rec: dict = {}
        spark.catalog.clearCache()
        with tr.span("pipeline", op=tr.new_op()):
            t0 = time.perf_counter()
            with tr.span("nhl.dag", stages=True):
                models = run_pipeline(
                    spark, bronze, warehouse_dir=str(out / "warehouse")).models
            t1 = time.perf_counter()
            with tr.span("nhl.quality", stages=True):
                checks = run_reference_suite(models, bronze)
            t2 = time.perf_counter()
            with tr.span("sources.export", stages=True):
                paths = export_all(models, str(out / "csv"))
            t3 = time.perf_counter()
        rec.update(run_s=t3 - t0, dag_s=t1 - t0, quality_s=t2 - t1,
                   export_s=t3 - t2,
                   models=len(models), checks=len(checks),
                   checks_failed=sum(1 for c in checks if not c.passed))
        # Correctness is read after the clock stops.
        written, files = tree_size(out)
        csv_parts = sum(1 for p in paths.values() if any(Path(p).glob("part-*.csv")))
        rec.update(write_bytes=written, files_written=files, exports=csv_parts)
        run.attempted += 3
        if rec["models"] != EXPECTED_MODELS:
            run.fail(f"dag: {rec['models']} models, expected {EXPECTED_MODELS}")
        if rec["checks"] != EXPECTED_CHECKS or rec["checks_failed"]:
            run.fail(f"quality: {rec['checks'] - rec['checks_failed']}/"
                     f"{rec['checks']} passed, expected {EXPECTED_CHECKS}")
        if rec["exports"] != len(EXPORT_MODELS):
            run.fail(f"export: {rec['exports']} CSV files, "
                     f"expected {len(EXPORT_MODELS)}")
        runs.append(rec)
        shutil.rmtree(out, ignore_errors=True)

    run.window(one_pass)
    run.phase("window_s")
    med = lambda k: _median([r[k] for r in runs])  # noqa: E731
    walls = [r["run_s"] for r in runs]
    e2e = {
        "setup_s": (_median(run.setup_samples), "s"),
        "pass_s": (_median(walls), "s"),
        "pipeline_run_s": (_median(walls), "s"),
        "write_amp": (med("write_bytes") / bronze_bytes, "x"),
        "peak_rss_mb": (peak_rss_mb(spark), "MB"),
    }
    detail = {"bronze_bytes": bronze_bytes, "replicas": replicas, "runs": runs}
    layers = None
    if tr.enabled:
        passes = len(walls)
        layers = _setup_layers(run)
        dag, qual, exp = (tr.named(n) for n in ("nhl.dag", "nhl.quality", "sources.export"))
        jobs = lambda spans: sum((s.stages or {}).get("jobs", 0.0) for s in spans) / passes  # noqa: E731
        layers.update({
            "nhl.dag_s": med("dag_s"),
            "nhl.quality_s": med("quality_s"),
            "nhl.quality_checks": med("checks"),
            "nhl.quality_failed": med("checks_failed"),
            "nhl.jobs.dag": jobs(dag),
            "nhl.jobs.quality": jobs(qual),
            "nhl.s_per_job.quality": med("quality_s") / max(jobs(qual), 1.0),
            "sources.export_s": med("export_s"),
            "sources.write_bytes": med("write_bytes"),
            "sources.files_written": med("files_written"),
        })
        layers.update(run.exec_totals(dag + qual + exp, passes))
        layers["trace_overhead"] = _trace_overhead(run, walls)
    return _finish(run, e2e, detail, layers)


def _finish(run: Run, e2e: dict, detail: dict, layers: dict | None) -> dict:
    suspect, drift = run.stall(layers)
    e2e["error_rate"] = (run.failed / max(run.attempted, 1), "1")
    detail.update(
        stall_suspect=suspect,
        anchor_s=run.anchors,
        setup_samples_s=run.setup_samples,
        phases_s=run.phases,
        failures=run.failures[:20],
    )
    if layers is not None:
        layers["env.stall_suspect"] = float(suspect)
        layers["env.anchor_drift"] = drift
        layers["process.peak_rss_mb"] = e2e["peak_rss_mb"][0]
    return {"e2e": e2e, "layers": layers, "detail": detail}


WORKLOADS = {
    "query_mix": lambda run: query_mix(run, 0.001 if run.smoke else 0.01),
    "nhl_daily": lambda run: nhl_daily(run, 1 if run.smoke else NHL_REPLICAS),
}
