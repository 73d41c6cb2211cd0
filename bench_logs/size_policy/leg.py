"""One fresh-JVM leg of the sizing-rule A/B: the 14 bench queries on one
lake, with per-query wall time, task count and spill.

Usage:
    python bench_logs/size_policy/leg.py ENGINE_CHECKOUT SF_DIR OUT_JSON \
        [--cpus 4] [--reps 3]

ENGINE_CHECKOUT is the tree whose engine runs (one arm per checkout).
Each query runs ``--reps`` times into the noop sink after a warmup that
scans every table once; each rep starts from ``clearCache`` and the
default scan-split size, as bench.py's per-query blocks did. Wall time
covers build and execution. Tasks, spill (memory and disk), shuffle
write and executor CPU are summed over the stages each rep completed,
read from the Spark UI REST API of this leg's own session.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import urllib.request


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("checkout")
    p.add_argument("sf_dir")
    p.add_argument("out")
    p.add_argument("--cpus", type=int, default=4)
    p.add_argument("--reps", type=int, default=3)
    args = p.parse_args()
    sys.path.insert(0, args.checkout)

    from nhl_data_pipeline_spark.catalog import (
        TABLES,
        load_table,
        reset_scan_splits,
    )
    from nhl_data_pipeline_spark.plans.registry import all_queries
    from nhl_data_pipeline_spark.session import get_spark

    spark = get_spark(
        "size_policy_leg",
        cpus=args.cpus,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "10000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def stages() -> list[dict]:
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        with urllib.request.urlopen(base + "/stages?status=complete") as r:
            return json.loads(r.read())

    for t in TABLES:
        load_table(spark, args.sf_dir, t).write.format("noop").mode(
            "overwrite"
        ).save()

    keys = {
        "tasks": "numTasks",
        "spill_mem_b": "memoryBytesSpilled",
        "spill_disk_b": "diskBytesSpilled",
        "shuffle_write_b": "shuffleWriteBytes",
    }
    out: dict[str, dict[str, list]] = {}
    specs = {n: s for n, s in sorted(all_queries().items()) if s.bench}
    for name, spec in specs.items():
        rec: dict[str, list] = {k: [] for k in ("wall_s", "cpu_s", *keys)}
        for _ in range(args.reps):
            spark.catalog.clearCache()
            reset_scan_splits(spark)
            mark = max((s["stageId"] for s in stages()), default=-1)
            t0 = time.perf_counter()
            spec.fn(spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            rec["wall_s"].append(round(time.perf_counter() - t0, 3))
            new = [s for s in stages() if s["stageId"] > mark]
            for k, field in keys.items():
                rec[k].append(sum(s[field] for s in new))
            rec["cpu_s"].append(
                round(sum(s["executorCpuTime"] for s in new) / 1e9, 3)
            )
        out[name] = rec
        print(name, rec["wall_s"], rec["tasks"], file=sys.stderr)
    with open(args.out, "w") as f:
        json.dump(
            {
                "checkout": args.checkout,
                "sf_dir": args.sf_dir,
                "cpus": sc.defaultParallelism,
                "reps": args.reps,
                "queries": out,
            },
            f,
            indent=1,
        )
    spark.stop()


if __name__ == "__main__":
    main()
