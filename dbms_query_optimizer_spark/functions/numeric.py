"""Exact-decimal money arithmetic.

Floating-point SUM/AVG are order-dependent, and every engine sums in a
different order — so a double aggregate can never hash-compare exactly
against another engine, and at 100 TB the drift is far above rounding
noise. Policy (mirrored verbatim in the DuckDB oracle SQL):

- cast money columns to DECIMAL(12,2) *before* arithmetic — exact, since
  the source data carries exactly 2 decimals;
- multiply / sum in decimal (exact, associative, order-independent);
- cast the final aggregate to DOUBLE and round at a scale where the true
  value sits on the decimal grid (never halfway), so both engines emit
  bit-identical doubles.

This is also the right call at scale: decimal aggregation stays inside
whole-stage codegen and makes results reproducible run-to-run, which
float sums over shuffled partitions are not.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: str | Column, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(12,{scale})")


def disc_price_expr() -> Column:
    """l_extendedprice * (1 - l_discount), exact (4 decimal places)."""
    return dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))


def charge_expr() -> Column:
    """l_extendedprice * (1 - l_discount) * (1 + l_tax), exact (6 dp)."""
    return disc_price_expr() * (F.lit(1) + dec("l_tax"))


def dsum_double(expr: Column, round_scale: int = 4) -> Column:
    """SUM in decimal, emitted as a rounded double (cross-engine stable)."""
    return F.round(F.sum(expr).cast("double"), round_scale)


def davg_double(expr: Column, round_scale: int = 4) -> Column:
    """AVG as exact-decimal SUM / COUNT, rounded double.

    Engines disagree on AVG(DECIMAL) result types (Spark keeps decimal,
    DuckDB returns double), so the portable exact form is sum/count.
    """
    return F.round(F.sum(expr).cast("double") / F.count(F.lit(1)), round_scale)
