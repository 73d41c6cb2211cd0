"""Declarative data-quality checks: the dbt schema-test semantics on Spark.

unique / not_null / accepted_values / accepted_range / relationships (FK)
/ unique_combination_of_columns (dbt_nhl/models/silver/schema.yml,
strategy at .context/DECISIONS.md:355-396), one Spark action per call
(``not_null`` covers all its columns in one aggregate). They define the
semantics: the reference's full 233-instance suite (``quality_suite.py``)
fuses them into one action per model and is tested against them.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class CheckResult:
    table: str
    check: str
    passed: bool
    failing_rows: int

    def __str__(self) -> str:  # pragma: no cover
        status = "PASS" if self.passed else "FAIL"
        return f"{status} {self.table}.{self.check} ({self.failing_rows} failing)"


def not_null(df: DataFrame, table: str, *cols: str) -> list[CheckResult]:
    agg = df.agg(
        *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in cols]
    ).first()
    return [
        CheckResult(table, f"not_null({c})", agg[c] == 0, agg[c]) for c in cols
    ]


def unique(df: DataFrame, table: str, *cols: str) -> CheckResult:
    """unique / unique_combination_of_columns (silver/schema.yml:207-211)."""
    dup = (
        df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)
    ).count()
    return CheckResult(table, f"unique({', '.join(cols)})", dup == 0, dup)


def accepted_values(
    df: DataFrame, table: str, col: str, values: list
) -> CheckResult:
    bad = df.filter(~F.col(col).isin(values) & F.col(col).isNotNull()).count()
    return CheckResult(table, f"accepted_values({col})", bad == 0, bad)


def accepted_range(
    df: DataFrame,
    table: str,
    col: str,
    min_value: float,
    max_value: float,
    inclusive: bool = True,
) -> CheckResult:
    """dbt_utils.accepted_range semantics (silver/schema.yml pct checks):
    non-null values must fall inside [min, max] (or the open interval)."""
    c = F.col(col)
    if inclusive:
        bad_cond = (c < min_value) | (c > max_value)
    else:
        bad_cond = (c <= min_value) | (c >= max_value)
    bad = df.filter(c.isNotNull() & bad_cond).count()
    return CheckResult(
        table, f"accepted_range({col},[{min_value},{max_value}])", bad == 0, bad
    )


def relationships(
    child: DataFrame, table: str, col: str, parent: DataFrame, parent_col: str
) -> CheckResult:
    """FK integrity: every non-null child key exists in the parent
    (the 10 relationship tests, silver/schema.yml)."""
    orphans = (
        child.select(F.col(col))
        .filter(F.col(col).isNotNull())
        .join(
            parent.select(F.col(parent_col).alias(col)).distinct(),
            col,
            "left_anti",
        )
        .count()
    )
    return CheckResult(table, f"relationships({col}→{parent_col})", orphans == 0, orphans)
