"""Measure the engine's working set of generated classes.

Spark compiles one Janino class per miss of its generated-class cache
(``spark.sql.codegen.cache.maxEntries``). This script runs three sets of
work twice each in one fresh JVM and counts compiles per pass with
``session.codegen_compiles``:

- ``bench``: the 14 ``bench=True`` registry queries into the noop sink;
- ``nhl_daily``: the CLI pass (24-model DAG, 230 checks, CSV export) on
  the committed bronze fixtures;
- ``registry``: all registry queries into the noop sink.

Each query starts from ``clearCache``, as in bench.py and the
benchmark. With a cache larger than the working set the first pass of
a set compiles its new classes and the second compiles almost none, so
the sum of the first passes is the distinct classes of the union. After the last pass it reports the driver JVM's Metaspace use
and the peak resident set of this process plus the JVM.

Usage:
    python tools/codegen_working_set.py --sf-dir LAKE [--cache-entries N]
        [--sets bench,nhl_daily,registry]

``--cache-entries`` overrides ``session.CODEGEN_CACHE_ENTRIES`` (100 is
Spark's default). Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--sf-dir", required=True,
                   help="test lake the registry queries read, e.g. sf0.01")
    p.add_argument("--cache-entries", type=int, default=None)
    p.add_argument("--sets", default="bench,nhl_daily,registry")
    args = p.parse_args()

    from nhl_data_pipeline_spark.cli import BRONZE_TABLES, DEFAULT_BRONZE
    from nhl_data_pipeline_spark.nhl.pipeline import run_pipeline
    from nhl_data_pipeline_spark.nhl.quality_suite import run_reference_suite
    from nhl_data_pipeline_spark.plans.registry import all_queries
    from nhl_data_pipeline_spark.session import (
        CODEGEN_CACHE_ENTRIES,
        codegen_compiles,
        get_spark,
    )
    from nhl_data_pipeline_spark.sources.export import export_all

    entries = args.cache_entries or CODEGEN_CACHE_ENTRIES
    spark = get_spark(
        "codegen_working_set",
        cpus=os.cpu_count(),
        extra_conf={
            "spark.sql.codegen.cache.maxEntries": str(entries),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    specs = all_queries()

    def queries(names):
        def one_pass():
            for name in names:
                spark.catalog.clearCache()
                specs[name].fn(spark, args.sf_dir).write.format("noop").mode(
                    "overwrite").save()
        return one_pass

    def nhl_daily():
        spark.catalog.clearCache()
        bronze = {t: spark.read.parquet(os.path.join(DEFAULT_BRONZE, t))
                  for t in BRONZE_TABLES}
        with tempfile.TemporaryDirectory() as out:
            models = run_pipeline(spark, bronze,
                                  warehouse_dir=f"{out}/warehouse").models
            checks = run_reference_suite(models, bronze)
            export_all(models, f"{out}/csv")
        assert len(models) == 24 and all(c.passed for c in checks)

    sets = {
        "bench": queries(sorted(n for n, s in specs.items() if s.bench)),
        "nhl_daily": nhl_daily,
        "registry": queries(sorted(specs)),
    }
    result: dict = {"cache_entries": entries, "sf_dir": Path(args.sf_dir).name,
                    "cpus": spark.sparkContext.defaultParallelism}
    union = 0
    for name in args.sets.split(","):
        passes = []
        for _ in range(2):
            c0, t0 = codegen_compiles(spark), time.perf_counter()
            sets[name]()
            passes.append({"compiles": codegen_compiles(spark) - c0,
                           "wall_s": round(time.perf_counter() - t0, 2)})
        result[name] = passes
        union += passes[0]["compiles"]
    result["union_first_pass_compiles"] = union

    jvm = spark._jvm
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            result["metaspace_used_mb"] = round(
                pool.getUsage().getUsed() / 2**20, 1)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    result["peak_rss_mb"] = round(_hwm_mb(os.getpid()) + _hwm_mb(jvm_pid), 1)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
