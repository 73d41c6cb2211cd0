"""Helpers for building the DuckDB oracle SQL strings.

Centralizes the parity idioms (decimal-exact sums, bigint counts) so every
query's oracle is built from the same vetted fragments.
"""

from __future__ import annotations


def dsum_expr(expr: str, scale: int = 6) -> str:
    """Order-independent SUM over a double expression, as DOUBLE (no alias).

    ``scale`` must be ≥ the expression's true decimal scale so the cast is
    exact (see functions.scalars.dec).

    The decimal→double hop goes THROUGH VARCHAR: when the sum's scaled
    integer exceeds 2^53, direct decimal→double conversion rounds, and
    engines differ by an ulp (Spark: correctly-rounded BigDecimal; DuckDB:
    int128 arithmetic). decimal→text is exact and text→double parsing is
    correctly rounded everywhere, so the string bridge is engine-stable."""
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS VARCHAR) AS DOUBLE)"


def dsum(expr: str, alias: str, scale: int = 6) -> str:
    """Order-independent SUM over a double expression, emitted as DOUBLE."""
    return f"{dsum_expr(expr, scale)} AS {alias}"


def bcount(alias: str, filter_expr: str | None = None) -> str:
    """COUNT(*) (optionally filtered) pinned to BIGINT (DuckDB COUNT is already
    BIGINT; the cast also guards conditional-sum variants)."""
    inner = f"CASE WHEN {filter_expr} THEN 1 END" if filter_expr else "*"
    return f"CAST(COUNT({inner}) AS BIGINT) AS {alias}"
