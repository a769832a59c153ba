"""Financial KPI macro library.

Spark-native analog of the reference's dbt Jinja macros
(``macros/financial_ratios.sql``, README.md:86-87, used at
README.md:487-493): ``calculate_profit_margin(num, den)`` etc. expand to
``ROUND(num / NULLIF(den, 0), 4)``. Here each macro is a Python function
returning a Catalyst ``Column`` — same NULL semantics (denominator 0 or
NULL -> NULL result), zero UDF overhead, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from finance_reporting_etl_spark.functions.scalars import det_round

ColumnOrName = "Column | str"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def safe_div(numerator: Column | str, denominator: Column | str) -> Column:
    """``num / NULLIF(den, 0)`` — division with a zero-denominator guard.

    Mirrors README.md:493 (`total_assets / NULLIF(total_liabilities, 0)`).
    """
    den = _col(denominator)
    return _col(numerator) / F.nullif(den, F.lit(0))


def ratio(numerator: Column | str, denominator: Column | str, scale: int = 4) -> Column:
    """NULLIF-guarded division rounded to ``scale`` — the generic KPI macro."""
    return det_round(safe_div(numerator, denominator), scale)


def profit_margin(net_income: Column | str, total_revenue: Column | str, scale: int = 4) -> Column:
    """calculate_profit_margin(net_income, total_revenue) analog (README.md:488)."""
    return ratio(net_income, total_revenue, scale)


def return_on_assets(net_income: Column | str, total_assets: Column | str, scale: int = 4) -> Column:
    """calculate_roa analog (README.md:490)."""
    return ratio(net_income, total_assets, scale)


def return_on_equity(net_income: Column | str, total_equity: Column | str, scale: int = 4) -> Column:
    """calculate_roe analog (README.md:491)."""
    return ratio(net_income, total_equity, scale)
