"""Calendar feature expressions with DuckDB-compatible semantics.

The reference derives its ``dim_time`` features in DuckDB SQL
(silver_transform.py:65-78).  Two engine-semantics traps handled
here (SURVEY.md §4.2.3):

* DuckDB ``EXTRACT(DOW ...)`` is 0=Sunday..6=Saturday while Spark
  ``dayofweek`` is 1=Sunday..7=Saturday -> subtract 1.
* ``season`` bucket boundaries are month-set CASEs, copied verbatim
  ({12,1,2}=0 winter, {3,4,5}=1 spring, {6,7,8}=2 summer, else 3).

Each rule has a Column form and a Spark SQL text form (``*_sql``,
taking the timestamp as SQL text) for the builders written as one
statement; tests/test_sql_forms.py pins the two equal.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dow_sunday0(ts: Column) -> Column:
    """Day of week, 0=Sunday..6=Saturday (DuckDB ``EXTRACT(DOW)``)."""
    return (F.dayofweek(ts) - F.lit(1)).cast("int")


def is_weekend(ts: Column) -> Column:
    """True for Saturday/Sunday (silver_transform.py:69-72)."""
    return dow_sunday0(ts).isin(0, 6)


def season(ts: Column) -> Column:
    """0=winter 1=spring 2=summer 3=fall (silver_transform.py:73-78)."""
    m = F.month(ts)
    return (
        F.when(m.isin(12, 1, 2), F.lit(0))
        .when(m.isin(3, 4, 5), F.lit(1))
        .when(m.isin(6, 7, 8), F.lit(2))
        .otherwise(F.lit(3))
        .cast("int")
    )


def dow_sunday0_sql(ts: str) -> str:
    """:func:`dow_sunday0` as Spark SQL text."""
    return f"CAST(dayofweek({ts}) - 1 AS INT)"


def is_weekend_sql(ts: str) -> str:
    """:func:`is_weekend` as Spark SQL text."""
    return f"{dow_sunday0_sql(ts)} IN (0, 6)"


def season_sql(ts: str) -> str:
    """:func:`season` as Spark SQL text."""
    return (f"CAST(CASE WHEN month({ts}) IN (12, 1, 2) THEN 0 "
            f"WHEN month({ts}) IN (3, 4, 5) THEN 1 "
            f"WHEN month({ts}) IN (6, 7, 8) THEN 2 ELSE 3 END AS INT)")
