"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

Runs one workload (see ``workloads.py`` and ``README.md``) from the root
of a checkout, on ``local[<all cores>]``. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end set of ``END_TO_END``; with
``--trace 1`` Spark's UI/REST API is on, spans are recorded, and the
metrics are the per-layer set of :func:`per_layer_names`; the spans go to
``.perfbench/traces/``. The line before it carries the details: every
end-to-end figure of the workload (including the workload-specific ones),
the stall flag, the anchors and any failures.

``--smoke`` runs the workload on tiny inputs (an sf0.001 lake, the
fixtures once, one set-up, one pass) and exits non-zero unless every
named metric is emitted with a unit and nothing failed; see test_smoke.py.

All files the run writes stay under ``<checkout>/.perfbench/``; the
work directory is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# (name, unit) of the end-to-end metrics reported with --trace 0: the
# ones that apply to every workload and are steady enough to bound.
# peak_rss_mb is on the detail line and, as process.peak_rss_mb, in the
# per-layer set: at the 12g default heap it moves 10-20% between runs.
END_TO_END = (("setup_s", "s"), ("pass_s", "s"))
# Every end-to-end figure a workload prints on its detail line.
E2E_BY_WORKLOAD = {
    "query_mix": ("setup_s", "pass_s", "query_p50_s", "query_tail_s",
                  "peak_rss_mb", "error_rate"),
    "nhl_daily": ("setup_s", "pass_s", "pipeline_run_s", "write_amp",
                  "peak_rss_mb", "error_rate"),
}

BENCH_QUERIES = (
    "broadcast_dim_join", "curation_pipeline", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "embedding_knn_bruteforce", "join_chain_revenue",
    "kmeans_semantic_dedup", "latest_snapshot_dedup", "ngram_lm_quality",
    "pq_adc_topk", "pricing_summary", "rolling_avg_frames", "text_profile",
    "topk_customers_by_revenue",
)
EXEC = (
    ("wall_s", "s"), ("cpu_s", "s"), ("run_s", "s"), ("gc_s", "s"),
    ("cpu_util", "ratio"), ("jobs", "count"), ("stages", "count"),
    ("stages_skipped", "count"), ("tasks", "count"), ("tasks_failed", "count"),
    ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"), ("input_bytes", "B"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric reported with --trace 1."""
    out = [
        ("session.start_s", "s"), ("catalog.load_s", "s"),
        ("plans.build_s", "s"), ("plans.build_frac", "ratio"),
        ("catalyst.plan_s", "s"),
    ]
    out += [(f"exec.{k}", u) for k, u in EXEC]
    out += [
        ("nhl.dag_s", "s"), ("nhl.quality_s", "s"),
        ("nhl.quality_checks", "count"), ("nhl.quality_failed", "count"),
        ("nhl.jobs.dag", "count"), ("nhl.jobs.quality", "count"),
        ("nhl.s_per_job.quality", "s"),
        ("sources.export_s", "s"), ("sources.write_bytes", "B"),
        ("sources.files_written", "count"),
        ("trace_overhead", "ratio"), ("env.stall_suspect", "count"),
        ("env.anchor_drift", "ratio"), ("process.peak_rss_mb", "MB"),
    ]
    for q in BENCH_QUERIES:
        out += [
            (f"plans.build_s.{q}", "s"), (f"catalyst.plan_s.{q}", "s"),
            (f"exec.cpu_s.{q}", "s"), (f"exec.shuffle_write_bytes.{q}", "B"),
        ]
    return out


def _environment(work: Path) -> None:
    """Keep Spark's and Python's scratch files inside the work directory."""
    tmp = work / "tmp"
    local = work / "local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # session.py's GC choice, plus: temp files in the work directory, and
    # no hsperfdata file (HotSpot writes it to /tmp whatever tmpdir says).
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 smoke: bool = False) -> dict:
    """Run one workload in this process; returns its raw result."""
    import tempfile

    import tracer
    import workloads

    base = ROOT / ".perfbench"
    base.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{name}-{seed}-", dir=base))
    _environment(work)
    tempfile.tempdir = None  # re-read TMPDIR
    tr = tracer.Tracer() if trace else tracer.NULL_TRACER
    run = workloads.Run(work, seed, seconds, tr, smoke)
    try:
        res = workloads.WORKLOADS[name](run)
    finally:
        run.stop()
        if trace and tr.spans:
            traces = base / "traces"
            traces.mkdir(exist_ok=True)
            tr.dump(str(traces / f"{name}-seed{seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    res["attempted"] = run.attempted
    res["failed"] = run.failed
    return res


def result_line(res: dict, trace: bool) -> dict:
    """The contract's last line: the metric set of the chosen mode."""
    if trace:
        layers = res["layers"]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in per_layer_names()}
    else:
        metrics = {n: {"value": float(res["e2e"][n][0]), "unit": u}
                   for n, u in END_TO_END}
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }


def detail_line(name: str, seed: int, trace: bool, res: dict) -> dict:
    return {
        "workload": name, "seed": seed, "trace": int(trace),
        "e2e": {k: {"value": v, "unit": u} for k, (v, u) in res["e2e"].items()},
        **res["detail"],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="query_mix")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one pass; check every metric is emitted")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"expected one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        # Fail before any work when the program under test is absent.
        import nhl_data_pipeline_spark  # noqa: F401

        res = run_workload(args.workload, args.seed, args.seconds,
                           bool(args.trace), smoke=args.smoke)
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1
    print(json.dumps(detail_line(args.workload, args.seed, bool(args.trace), res)))
    line = result_line(res, bool(args.trace))
    if args.smoke:
        problems = smoke_problems(args.workload, res, line, bool(args.trace))
        for p in problems:
            print(f"smoke: {p}", file=sys.stderr)
        if problems:
            return 1
    print(json.dumps(line), flush=True)
    return 0


def smoke_problems(name: str, res: dict, line: dict, trace: bool) -> list[str]:
    """Every named metric present with a unit and a finite value, in the
    result line and (all of the workload's end-to-end figures) in the
    detail line; nothing failed."""
    import math

    out = []
    want = per_layer_names() if trace else END_TO_END
    for n, u in want:
        m = line["metrics"].get(n)
        if not m or m.get("unit") != u or not math.isfinite(m["value"]):
            out.append(f"metric {n} missing or malformed: {m}")
    for n in E2E_BY_WORKLOAD[name]:
        v = res["e2e"].get(n)
        if not v or not v[1] or not math.isfinite(v[0]):
            out.append(f"end-to-end figure {n} missing or malformed: {v}")
    if res["e2e"]["error_rate"][0] != 0 or not line["correct"]:
        out.append(f"error_rate {res['e2e']['error_rate'][0]}: "
                   f"{res['detail']['failures']}")
    return out


if __name__ == "__main__":
    sys.exit(main())
