"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set fleet-wide on a real cluster:
AQE on (runtime coalescing + skew-join splitting), Arrow on (fast pandas
interop for the few Pandas-UDF operators), UTC session timezone (bit-exact
timestamp parity with columnar engines such as DuckDB that store UTC-naive),
and shuffle partitions sized to the actual parallelism instead of the
historical default of 200. Spark's generated-class cache is sized to
hold the engine's working set, so repeated queries reuse compiled code.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from concurrent.futures import FIRST_EXCEPTION, Future, ThreadPoolExecutor, wait
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# local[n] runs driver + all n executor threads in ONE JVM whose heap
# defaults to 1g — 32 concurrent shuffle tasks in 1 GiB is permanent GC
# pressure and OOMs on any join with real fan-out (the container has
# 128 GiB). On a cluster this comes from spark-submit --driver-memory /
# --executor-memory; locally we must set it before the JVM starts.
# 12g, not "as big as fits": measured on the clearCache'd minhash query
# at sf0.1 (6 consecutive runs), steady state is ~1.0 s at 8-12g but
# DEGRADES 5-10× at 24g (G1 young-gen scaling at large heaps turns this
# allocation-heavy md5/string workload into GC churn — 24g: [9.2, 2.0,
# 1.8, 7.3, 9.5, 9.9] vs 12g: [7.8, 1.3, 1.0, 1.0, 1.0, 0.9]). 12g still
# clears the boiler5000/sf1-probe fan-out that OOM'd the 1g default.
DEFAULT_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")
# Spark's generated-class cache (spark.sql.codegen.cache.maxEntries) is
# an LRU of 100 entries by default: smaller than one pass of the 14 bench
# queries, so every pass recompiled its classes with Janino and re-JITed
# them cold. Working set measured by tools/codegen_working_set.py at
# sf0.01 on 4 cores, one JVM, nothing evicted
# (bench_logs/codegen_cache/working_set_4096.json): bench queries 249
# classes, the nhl_daily CLI pass 509 more, all 50 registry queries 900
# more — 1,658 distinct in their union. 4096 leaves 2.4x headroom; a
# repeated pass then compiles 8/14/52 classes (code that differs per
# run) where the default compiled 242/515/1305. Same-box A/B against
# the default on 4 cores, perfbench --trace 0, 10 alternating pairs
# (bench_logs/codegen_cache/ab_query_mix.jsonl): query_mix pass_s median
# 9.72 -> 7.21 s, faster in 10 of 10 pairs. Metaspace after a registry
# pass: 198-202 MB either way.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "nhl_data_pipeline_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    On a real cluster the ``master`` and memory settings come from
    spark-submit; everything set here is cluster-size-agnostic policy.

    If a session already exists in this process, it is returned AS IS
    (plus any ``extra_conf``): Spark's getOrCreate silently re-applies
    builder configs as RUNTIME confs on an existing session, so a second
    caller with a different ``cpus`` would mutate the first caller's
    shuffle.partitions mid-session — measured consequence: the AQE
    broadcast-promotion pin flipped because a ~2-row build side spread
    over 32 instead of 8 partitions falls under AQE's 0.2
    non-empty-partition demotion ratio. First builder in the process is
    authoritative; later callers get the live session unchanged.
    """
    # getActiveSession is THREAD-LOCAL: a call from any thread other
    # than the session's creator (streaming listener, worker thread)
    # would see None and fall into getOrCreate, which re-applies builder
    # configs as runtime confs on the live session — the mid-session
    # shuffle.partitions mutation this guard exists to prevent. The
    # process-wide default lives in _instantiatedSession (what
    # SparkSession.active() consults after the thread-local miss;
    # pyspark exposes no public getDefaultSession) — fall back to it.
    # getattr, not attribute access: _instantiatedSession is private
    # (probed present in pyspark 4.1.2); if a future release drops it,
    # degrade to getOrCreate instead of raising AttributeError.
    existing = SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None
    )
    if existing is not None:
        for k, v in (extra_conf or {}).items():
            existing.conf.set(k, v)
        return existing
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # Honored only at JVM launch (first session in the process) —
        # exactly the local-mode case; on a cluster spark-submit wins.
        .config("spark.driver.memory", DEFAULT_DRIVER_MEM)
        # ParallelGC, not the G1 default: this engine's hot queries are
        # allocation-heavy (md5/string shingles, exploded arrays) and
        # throughput-bound with no pause-time requirement — the classic
        # ParallelGC case. Measured on the full 14-query bench at sf0.1:
        # 14.8 s (ParallelGC) vs 16.6 s (G1) with the per-query outliers
        # gone (minhash 0.80 vs 1.88 s in the G1 run). Override for A/B
        # runs via SPARK_GRAFT_DRIVER_JAVA_OPTS; JVM-launch-only like the
        # heap size.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"
            ),
        )
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching. Essential at 100 TB, harmless
        # locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle partitions ~ cores for local runs. On a cluster this is
        # executors*cores*2-3; AQE coalesces down from there.
        .config("spark.sql.shuffle.partitions", str(n))
        # Generated-class cache sized to the working set (see
        # CODEGEN_CACHE_ENTRIES). A static conf: only a builder may set
        # it, so it stays out of cluster_conf and get_spark's conf.set
        # path, which raise CANNOT_MODIFY_STATIC_CONFIG on a live session.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Arrow transfer for pandas_udf / toPandas: vectorized, zero-copy-ish.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # UTC everywhere: deterministic timestamp semantics, oracle parity.
        .config("spark.sql.session.timeZone", "UTC")
        # The test lake's parquet uses TIMESTAMP(NANOS); this maps it to
        # timestamp_ntz instead of erroring (PARQUET_TYPE_ILLEGAL).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Quiet UI for batch runs.
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far: one per miss of
    the generated-class cache, whole-stage and expression code alike."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def run_concurrently(
    spark: SparkSession,
    tasks: Sequence[Callable[..., Any]],
    inputs: Sequence[Sequence[int]] | None = None,
) -> list[Any]:
    """Run independent Spark actions from driver threads; results in
    submission order.

    Small jobs are bound by per-job scheduling latency, not by cores, so
    a daily run of a few hundred small actions goes as fast as it can
    overlap them. ``inputs[i]`` lists earlier task indexes whose results
    are passed to task ``i`` as positional arguments; the task waits on
    them. Tasks start in FIFO order and may only wait on tasks submitted
    before them, so every task it waits on has already started and the
    pool cannot deadlock. The pool is ``min(len(tasks),
    defaultParallelism)`` wide, and each task inherits the caller's job
    group, local properties and tags. The first exception, in submission
    order among the tasks that failed, is re-raised once the running
    tasks end; tasks that had not started are cancelled.
    """
    if not tasks:
        return []
    inputs = inputs if inputs is not None else [()] * len(tasks)
    for i, deps in enumerate(inputs):
        if any(not 0 <= j < i for j in deps):
            raise ValueError(f"task {i} may only wait on earlier tasks: {deps}")
    futures: list[Future] = []

    def call(fn: Callable[..., Any], deps: Sequence[int]) -> Any:
        return fn(*[futures[j].result() for j in deps])

    target = inheritable_thread_target(spark)(call)
    width = min(len(tasks), spark.sparkContext.defaultParallelism)
    pool = ThreadPoolExecutor(max_workers=width)
    try:
        for fn, deps in zip(tasks, inputs):
            futures.append(pool.submit(target, fn, deps))
        wait(futures, return_when=FIRST_EXCEPTION)
        for f in futures:
            if f.done() and f.exception() is not None:
                raise f.exception()
        return [f.result() for f in futures]
    finally:
        pool.shutdown(wait=True, cancel_futures=True)


def cluster_conf(
    *,
    total_cores: int,
    dataset_bytes: int,
) -> dict[str, str]:
    """Cluster-profile config builder: the 100 TB sizing rules this repo
    MEASURED, shipped as policy instead of folklore. Returns the confs to
    lay on top of spark-submit's master/memory settings.

    Its shuffle-partition rule is the engine's ONE sizing rule: no plan
    builder derives a width of its own. Every plan shuffles at the
    session's ``spark.sql.shuffle.partitions`` (the text plans' explicit
    repartitions read it too) and AQE coalesces from there; scans use
    Spark's own split formula. ``get_spark(cpus=n)`` sets the same conf to
    n for local runs. Evidence: per-query A/B legs at sf1 and sf3 against
    the per-query width policies this rule replaced
    (bench_logs/size_policy/).

    Rules and their evidence:

    - ``spark.sql.shuffle.partitions`` = max(2 × total_cores,
      dataset_bytes / 128 MiB): partitions sized so a task's working set
      fits execution memory. The spill cliff is measured in
      ``BENCH_probes.json::partition_sizing_probe`` — an oversized
      partition spills ~2× the bytes and runs 2.5-4× slower; the pool
      divides among ACTIVE tasks, so under-partitioning ALSO idles
      cores. AQE coalesces the excess at runtime (its advisory size
      stays at the 64 MiB default). There is deliberately NO silent
      cap: capping would recreate the oversized-partition regime at
      exactly the scale this builder exists for (AQE can only coalesce
      downward, never split a non-skewed partition) — past 1M partitions
      the function raises and the caller must shard the job or
      explicitly accept a larger per-task working set.
    - ``spark.sql.files.maxPartitionBytes`` stays at 128 MiB — scan-side
      partitions follow the same fits-in-memory rule.
    - AQE on, with skew-join splitting at DEFAULT thresholds: the
      runtime split is the one skew-join path. Detection reads
      COMPRESSED map-output sizes, so a low-entropy hot key can hide
      below the 256 MiB threshold; lowering threshold and advisory size
      to 1 MiB around such a join makes the split fire
      (BENCH_probes.json::skew_join_probe). Those confs are NOT set
      fleet-wide: a 1 MiB advisory size would shred AQE coalescing for
      every other shuffle.
    - Arrow + UTC + nanosAsLong: same correctness policy as local mode.

    Not set here: executor memory/GC (spark-submit's job — though the
    measured ParallelGC-for-throughput result in this module's header
    applies to executors too) and autoBroadcastJoinThreshold (the 10 MiB
    default is right; explicit ``F.broadcast`` marks the intent in every
    plan that needs it).

    - **Layout rule**: lineitem-class facts — any table
      that repeatedly joins/aggregates on one key — should be INGESTED
      bucketed by that key (``sources.bucketed.write_bucketed`` with
      ``single_file=True``, count from
      ``sources.bucketed.recommended_buckets``) and served through
      ``catalog.register_bucketed_layout``. Evidence at sf100
      (bench_logs/r12/): the layout deletes the fact-side exchange from
      the executed plan; with the layout-aware SHUFFLE_HASH strategy
      join_chain_revenue runs spill-FREE at 2.2× less executor CPU
      (880 → 400 CPU-s) and beats the lake plan cold on a single disk
      (152.9 → 143.7 s). At 100 TB this converts the dominant recurring
      shuffle into a once-at-ingest cost — the difference between
      shuffling ~10 GB per sf100 query and never shuffling it again.
    """
    if total_cores <= 0 or dataset_bytes < 0:
        raise ValueError("total_cores > 0 and dataset_bytes >= 0 required")
    parts = max(2 * total_cores, dataset_bytes // (128 << 20))
    if parts > 1 << 20:
        raise ValueError(
            f"{parts} shuffle partitions by the 128 MiB working-set rule —"
            " shard the job, or raise the per-task working set explicitly"
            " (a silent cap here would just recreate the spill cliff the"
            " rule exists to avoid)"
        )
    conf = {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.files.maxPartitionBytes": str(128 << 20),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    return conf

