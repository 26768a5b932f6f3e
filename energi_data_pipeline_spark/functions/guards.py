"""Guarded arithmetic (divide-by-zero CASE guards).

The reference guards every ratio with a CASE and *asymmetric*
defaults: ``renewable_ratio`` falls back to 0 (gold_aggr.py:73-78)
but ``wind_solar_ratio`` falls back to 1 (gold_aggr.py:180-184).
Replicated verbatim via the ``default`` argument.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def guarded_ratio(num: Column, den: Column, default: float) -> Column:
    """``CASE WHEN den > 0 THEN num/den ELSE default END``."""
    return F.when(den > 0, num / den).otherwise(F.lit(float(default)))


def guarded_ratio_sql(num: str, den: str, default: float) -> str:
    """:func:`guarded_ratio` as Spark SQL text (``D``: a DOUBLE
    literal, as ``F.lit(float)``; a bare ``0.0`` is a DECIMAL)."""
    return (f"CASE WHEN ({den}) > 0 THEN ({num}) / ({den}) "
            f"ELSE {float(default)!r}D END")
