"""Scalar column helpers — dialect-divergence points made explicit.

The reference leans on Snowflake-dialect scalars whose Spark equivalents
differ subtly (SURVEY §2.9 / §7.3 risk list). Each helper here pins the
Snowflake semantics with a tested Spark expression, JVM-side only (no UDFs)
so they stay inside whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Accent folding table used by the entity-resolution crosswalk. The reference
# folds accents with 5 nested REGEXP_REPLACEs
# (dbt_nhl/models/staging/stg_player_name_crosswalk.sql:29-39); a single
# translate() is the vectorized, codegen-friendly equivalent.
_ACCENTED = "ÁÀÂÃÄÅáàâãäåÉÈÊËéèêëÍÌÎÏíìîïÓÒÔÕÖóòôõöÚÙÛÜúùûüÇçÑñÝýÿ"
_FOLDED = "AAAAAAaaaaaaEEEEeeeeIIIIiiiiOOOOOoooooUUUUuuuuCcNnYyy"


def accent_fold(col: Column | str) -> Column:
    """Fold Latin-1/Latin-Extended accents to ASCII (Léon → Leon)."""
    return F.translate(col, _ACCENTED, _FOLDED)


def split_part(col: Column | str, delim: str, index: int) -> Column:
    """Snowflake SPLIT_PART with negative-index support.

    Snowflake `SPLIT_PART(s, ' ', -1)` (stg_player_name_crosswalk.sql:27)
    returns the last token; Spark's `split_part` exists since 3.5 but
    `element_at` keeps us compatible and explicit: element_at is 1-based and
    supports negative indexes from the end.
    """
    return F.element_at(F.split(col, delim), index)


def sunday_zero_dow(col: Column | str) -> Column:
    """Day-of-week with Snowflake's 0=Sunday base.

    Spark's dayofweek() is 1=Sunday..7=Saturday; Snowflake's DAYOFWEEK
    (dim_date.sql:48) is 0=Sunday..6=Saturday. Subtract one.
    """
    return F.dayofweek(col) - F.lit(1)


def nhl_season_code(date_col: Column | str) -> Column:
    """NHL season code: Oct-Dec → year*10000+(year+1), Jan-Sep → (year-1)*10000+year.

    Shared derivation used by dim_date.sql:62-71, player_shot_metrics.sql:17-21
    and dim_player.sql:58-66 in the reference.
    """
    y = F.year(date_col)
    return F.when(F.month(date_col) >= 10, y * 10000 + (y + 1)).otherwise(
        (y - 1) * 10000 + y
    )


def dec(col: Column | str, scale: int = 6, prec: int = 18) -> Column:
    """Cast a double column to an exact decimal before SUM/AVG.

    Floating-point addition is non-associative, so a distributed SUM(double)
    is not bit-reproducible across engines or even across runs with different
    partitioning. Casting to DECIMAL(18, scale) first makes the aggregate
    exact and order-independent — the idiom this engine uses wherever an
    aggregate feeds a correctness-checked output. Cast back to double at the
    end for a stable output schema.

    CRITICAL: ``scale`` must be ≥ the true decimal scale of the expression
    (source money columns are 2 dp; a product of two of them is 4 dp; of
    three, 6 dp). Then the cast is exact — it never rounds — and engines
    cannot disagree on tie-breaking. A cast that truly rounds (scale below
    the value's scale) hits .5 ties where Spark (HALF_UP on the shortest
    string repr) and DuckDB (nearest on the binary value) diverge.

    ``prec``: the cast's precision. Default 18 is always safe. Passing
    ``prec <= 8`` turns the downstream SUM into a plain unscaled-LONG
    sum: Catalyst's DecimalAggregates rule rewrites ``Sum(decimal(p,s))``
    into ``MakeDecimal(Sum(UnscaledValue(e)), p+10, s)`` whenever
    ``p + 10 <= 18`` — a codegen 64-bit add instead of a 128-bit Decimal
    accumulator (measured ~5× on the aggregate kernel at sf0.1; the
    result value is bit-identical because both forms are exact). ONLY
    narrow when BOTH bounds are proven for the stated scale ceiling:
    every input value fits decimal(prec,scale) (an out-of-range value
    fails the cast loudly instead of silently truncating), and the SUM
    fits the rewritten result type decimal(prec+10,scale), i.e.
    rows × max|value| < 10^(prec+10-scale). Callers document the bound.
    """
    p = f"decimal({prec},{scale})"
    return F.col(col).cast(p) if isinstance(col, str) else col.cast(p)


def dec_sql(expr: str, scale: int = 6, prec: int = 18) -> str:
    """:func:`dec` as Spark-SQL text, for expressions built as strings.
    Same bound rules as :func:`dec` apply to ``prec``."""
    return f"CAST({expr} AS DECIMAL({prec},{scale}))"


def dsum_double_sql(expr: str, scale: int = 6, prec: int = 18) -> str:
    """Exact decimal SUM emitted as double via a string bridge, as one
    Spark-SQL string for ``F.expr`` (a Column-API build costs ~8 py4j
    round trips per measure).

    decimal→double conversion rounds once the scaled integer exceeds 2^53,
    and engines round differently (1-ulp divergences caught at sf0.1).
    decimal→string is exact; string→double parsing is correctly rounded in
    every engine — so SUM(decimal)→string→double is bit-stable across
    engines at any magnitude. Matches plans/sqlgen.dsum_expr on the oracle
    side (the oracle keeps DECIMAL(18,s) whatever ``prec``/``scale`` the
    Spark side uses: the string bridge parses "773.00" and "773.000000"
    to the same double, so a narrower Spark-side cast — see :func:`dec` —
    changes nothing the value hash can see).
    """
    return f"CAST(CAST(sum({dec_sql(expr, scale, prec)}) AS STRING) AS DOUBLE)"


def accent_fold_unicode(col: Column | str) -> Column:
    """General accent folding via NFKD decomposition (Arrow-batched UDF).

    translate() covers the Latin table above JVM-side; this is the
    general-alphabet path (SURVEY §2.11): unicodedata.normalize strips ALL
    combining marks, at Pandas-UDF cost. Prefer accent_fold in hot paths.
    """
    import unicodedata

    # Module-level-resolvable annotations: with `from __future__ import
    # annotations`, pandas_udf resolves the string hints via the function's
    # globals — pd must live there, not in this closure.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _fold(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: None
            if x is None
            else "".join(
                ch
                for ch in unicodedata.normalize("NFKD", x)
                if not unicodedata.combining(ch)
            )
        )

    return _fold(F.col(col) if isinstance(col, str) else col)
