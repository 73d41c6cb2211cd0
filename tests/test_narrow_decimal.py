"""Narrow-decimal sums (scalars.dec prec= / dsum_double_sql prec=).

The optimization contract: passing prec<=8 turns SUM(decimal(p,s)) into
Catalyst's unscaled-LONG rewrite (DecimalAggregates — MakeDecimal over a
long Sum) with a BIT-IDENTICAL double result through the string bridge.
These tests pin (a) value equality wide-vs-narrow on data at the documented
bounds, (b) that the rewrite actually fires in the physical plan, and
(c) that an out-of-range value fails LOUDLY (nulls out under try_cast-free
ANSI-off cast -> NULL, which the bound comments must prevent, so we pin the
observable: narrow cast of an over-precision value does NOT silently equal
the wide sum).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nhl_data_pipeline_spark.functions.scalars import dec, dsum_double_sql


def _sum(spark, values, **kw) -> tuple[float, str]:
    df = spark.createDataFrame([(float(v),) for v in values], "v double")
    row = df.agg(F.expr(dsum_double_sql("v", **kw)).alias("s")).collect()[0]
    plan = df.agg(F.sum(dec("v", **kw)).alias("s"))._jdf.queryExecution().executedPlan().toString()
    return row["s"], plan


def test_narrow_equals_wide_at_bound_values(spark):
    # l_quantity-like domain: integers 1..50, two decimals of headroom.
    vals = list(range(1, 51)) * 7
    wide, _ = _sum(spark, vals, scale=2, prec=18)
    narrow, plan = _sum(spark, vals, scale=2, prec=8)
    assert wide == narrow
    assert "UnscaledValue" in plan  # the long-sum rewrite fired


def test_wide_prec_keeps_decimal128_path(spark):
    _, plan = _sum(spark, [1.5, 2.25], scale=2, prec=18)
    assert "UnscaledValue" not in plan  # p+10 > 18: no rewrite


def test_fractional_values_identical(spark):
    # l_discount-like domain: 0.00..0.10 at 2 dp, summed at scale 6.
    vals = [i / 100 for i in range(0, 11)] * 13
    wide, _ = _sum(spark, vals, scale=6, prec=18)
    narrow, plan = _sum(spark, vals, scale=6, prec=8)
    assert wide == narrow
    assert "UnscaledValue" in plan


def test_out_of_range_is_loud_not_silent(spark):
    # 123456.78 needs 8 integer digits at scale 6 — decimal(8,6) can't
    # hold it. The cast must NOT silently truncate to a plausible value:
    # this session runs ANSI mode (Spark 4 default), so the narrow cast
    # throws NUMERIC_VALUE_OUT_OF_RANGE at execution — a bound stated in
    # a call-site comment that turns out wrong is an ERROR, never a
    # quietly-wrong sum.
    import pytest
    from pyspark.errors.exceptions.captured import ArithmeticException

    vals = [123456.78]
    wide, _ = _sum(spark, vals, scale=6, prec=18)
    assert wide == 123456.78
    with pytest.raises(ArithmeticException):
        _sum(spark, vals, scale=6, prec=8)
