"""Query registry: the engine's declared capability surface.

Every operator from SURVEY.md §2 (plus the training-data extensions) gets a
named query over the synthetic lake, registered here with an equivalent
ANSI-SQL oracle string for DuckDB. The driver's correctness gate runs both
sides at sf0.01 and hash-compares; ``tests/test_parity.py`` runs the same
comparison locally.

Design rules for parity-safe queries:
- alias every computed column identically in Spark and oracle SQL;
- SUM/AVG over doubles go through DECIMAL (functions.scalars.dec) so the
  result is order-independent, then cast back to double;
- every ROW_NUMBER / LIMIT has a unique total tiebreak order;
- cast COUNT/SUM-of-int to BIGINT in the oracle (DuckDB sums ints to HUGEINT);
- no DATE output columns — pandas has no date dtype, so Spark yields
  datetime.date objects while DuckDB yields Timestamps and any value hash
  diverges; emit timestamp (midnight) or a formatted string instead.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None → driver records rows-only check
    covers: str  # SURVEY §2 operator ids, e.g. "A1,A2,P5"
    bench: bool = False  # part of bench.py's headline set
    # Always None (each benched plan is its fn); perfbench/workloads.py reads it.
    bench_fn: QueryFn | None = None


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    *,
    oracle: str | None,
    covers: str,
    bench: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a (spark, sf_dir) -> DataFrame query."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, covers=covers, bench=bench
        )
        return fn

    return wrap


def all_queries() -> dict[str, QuerySpec]:
    # Import side-effect modules that populate the registry.
    from nhl_data_pipeline_spark.plans import (  # noqa: F401
        q_aggregates,
        q_joins,
        q_nhl,
        q_projection,
        q_similarity,
        q_streaming,
        q_text,
        q_windows,
    )

    return REGISTRY
