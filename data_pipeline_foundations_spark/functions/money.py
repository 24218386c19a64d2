"""Exact-money column expressions.

The reference does all money math in float64 with 2-dp rounding
(SURVEY.md §1.3). For a distributed engine that must hash-match a
single-threaded oracle, two float hazards must be engineered away:

1. **Aggregation order.** ``sum(double)`` reduction order differs between
   engines (and between runs under AQE), drifting in the last ulp. Money is
   therefore summed as integer cents (``bigint``) — associative exactly —
   then divided back to double. This is also what a production engine wants
   at 100 TB: integer partial aggregates shuffle cheaper and are immune to
   reduction-order drift across thousands of partial aggregators.

2. **Rounding semantics.** Spark ``round()`` applies HALF_UP to the
   *decimal rendering* of the double (via BigDecimal), while DuckDB rounds
   the *scaled binary* value (C ``round(x*100)/100``); they disagree on
   values like 37704.575 whose binary form sits just below the tie. The
   engine therefore defines rounding as ``floor(x*s + 0.5)/s`` — the same
   IEEE op sequence in both engines, bit-identical by construction.
   (Half-up-toward-+inf for negatives; all money here is non-negative.
   The fixture-faithful pipeline offers F.bround for Python-round parity.)

Every helper ships with its DuckDB-SQL twin so the two dialects cannot
drift apart silently.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def scaled_long(col: Column | str, scale: float) -> Column:
    """Engine-agnostic half-up: floor(x*scale + 0.5) as bigint."""
    return F.floor(_col(col) * F.lit(float(scale)) + F.lit(0.5)).cast("long")


def oracle_scaled_long(sql_expr: str, scale: float) -> str:
    return f"CAST(FLOOR(({sql_expr}) * {scale} + 0.5) AS BIGINT)"


def cents(col: Column | str) -> Column:
    """double pesos → exact bigint cents (inputs are 2-dp by contract)."""
    return scaled_long(col, 100.0)


def round2(col: Column | str) -> Column:
    """Deterministic 2-dp rounding: floor(x*100 + 0.5)/100, identical IEEE
    sequence in Spark and DuckDB (see module docstring)."""
    return cents(col) / F.lit(100.0)


def oracle_round2(sql_expr: str) -> str:
    return f"({oracle_scaled_long(sql_expr, 100.0)} / 100.0)"


def round2_sql(e: str) -> str:
    """:func:`round2` as a Spark SQL string, for one-parse ``selectExpr``
    builders (same analyzed expression as the Column form)."""
    return f"(cast(floor(({e}) * 100.0D + 0.5D) as bigint) / 100.0D)"


def bround2_sql(e: str) -> str:
    """Half-even 2-dp rounding (Python ``round``) as a Spark SQL string."""
    return f"bround({e}, 2)"


def sum_money(col: Column | str) -> Column:
    """Order-independent exact sum of a 2-dp money column, as double."""
    return F.sum(cents(col)) / F.lit(100.0)


def sum_money_expr(expr: Column) -> Column:
    """Exact sum of a row-level double expression, rounded to cents per row.

    Row-level IEEE arithmetic is bit-identical across engines; only the
    aggregation needs the integer detour.
    """
    return F.sum(scaled_long(expr, 100.0)) / F.lit(100.0)


def avg_money(col: Column | str) -> Column:
    """Exact mean of a 2-dp money column: integer-cents sum / count."""
    c = _col(col)
    return F.sum(cents(c)) / (F.count(c) * F.lit(100.0))


# ---- DuckDB twins ---------------------------------------------------------
def oracle_sum_money(sql_expr: str) -> str:
    return f"SUM({oracle_scaled_long(sql_expr, 100.0)}) / 100.0"


def oracle_avg_money(sql_expr: str) -> str:
    return (f"SUM({oracle_scaled_long(sql_expr, 100.0)}) / "
            f"(COUNT({sql_expr}) * 100.0)")
