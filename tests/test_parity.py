"""Every registered query must match its DuckDB oracle at sf0.001.

This mirrors the driver's sf0.01 correctness gate (row count + columns +
order-insensitive value compare) on the smallest scale factor so the suite
stays fast. `python -m nhl_data_pipeline_spark.plans.parity` runs the same
check at sf0.01 ad hoc.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from nhl_data_pipeline_spark.plans.parity import compare_query
from nhl_data_pipeline_spark.plans.registry import QuerySpec, all_queries
from tests.conftest import TEST_SF_DIR


def _names() -> list[str]:
    return sorted(all_queries())


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(spark, duck, name):
    r = compare_query(spark, duck, name, TEST_SF_DIR)
    assert r.ok, r.detail
    spec = all_queries()[name]
    if spec.oracle is not None:
        assert r.spark_rows == r.oracle_rows


def test_having_min_sample_values_one_decade_up(spark):
    """At sf0.001 no (nation, segment) group reaches having_min_sample's
    HAVING COUNT(*) >= 10 floor, so its case above compares only columns
    and emptiness. One decade up the oracle returns rows: compare them."""
    from nhl_data_pipeline_spark.plans.parity import duck_connection

    sf_dir = str(Path(TEST_SF_DIR).parent / "sf0.01")
    con = duck_connection(sf_dir)
    try:
        r = compare_query(spark, con, "having_min_sample", sf_dir)
    finally:
        con.close()
    assert r.ok, r.detail
    assert r.spark_rows == r.oracle_rows > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.columns) > 0


def test_queries_and_oracles_consistent():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) == len(all_queries())
    # Each timed plan is the plan parity checks: a bench query has an
    # oracle, and every spec is fully described by the fields `query()`
    # registers, so none carries a second, unchecked plan to time.
    specs = all_queries().values()
    assert all(s.oracle is not None for s in specs if s.bench)
    assert all(
        s == QuerySpec(s.name, s.fn, s.oracle, s.covers, s.bench) for s in specs
    )
