"""Capture .explain("formatted") for benched queries into plans/<round>/.

The before/after plan files let a reader check plan-shape claims without
running Spark.

Usage:
    python tools/capture_plans.py <round> <suffix> [--bucketed] [query ...]

Writes plans/<round>/<query>_<suffix>.txt (e.g. ``r13`` and ``before``)
at $SPARK_GRAFT_SF_DIR (default sf0.1 — the bench scale, so the captured
shapes are the benched shapes); with no query names it captures every
benched query. With --bucketed, first materializes/registers the bucketed
lineitem/orders layout (sources/bucketed.ensure_bucketed_lake into
/tmp/bucketed_lake_<sf>) and registers it in catalog.BUCKETED_LAYOUT, so
the captured plans are the layout-aware shapes.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

PLANS_DIR = Path(__file__).resolve().parent.parent / "plans"


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--bucketed"]
    bucketed = "--bucketed" in sys.argv[1:]
    out_dir = PLANS_DIR / args[0]
    suffix = args[1]
    names = args[2:]

    from nhl_data_pipeline_spark.plans.registry import all_queries
    from nhl_data_pipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capture_plans", cpus=8)

    if bucketed:
        from nhl_data_pipeline_spark import catalog
        from nhl_data_pipeline_spark.sources.bucketed import (
            ensure_bucketed_lake,
            recommended_buckets,
        )

        li_bytes = os.path.getsize(os.path.join(sf_dir, "lineitem.parquet"))
        n = recommended_buckets(li_bytes, 8)
        tag = os.path.basename(os.path.normpath(sf_dir))
        tables = ensure_bucketed_lake(
            spark,
            sf_dir,
            f"/tmp/bucketed_lake_{tag}",
            [
                ("lineitem", ["l_orderkey"], n, ["l_orderkey"]),
                ("orders", ["o_orderkey"], n, ["o_orderkey"]),
            ],
            single_file=True,
        )
        for name, tbl in tables.items():
            key = "l_orderkey" if name == "lineitem" else "o_orderkey"
            catalog.register_bucketed_layout(name, tbl, (key,))

    jvm = spark._jvm
    specs = all_queries()
    if not names:
        names = [n for n, s in specs.items() if s.bench]
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = specs[name].fn(spark, sf_dir)
        plan = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out = out_dir / f"{name}_{suffix}.txt"
        out.write_text(plan.rstrip() + "\n")
        print(f"wrote {out}")


if __name__ == "__main__":
    main()
