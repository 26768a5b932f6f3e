"""Gold layer: fact ⋈ dim -> derived measures -> 5-row moving
averages + volatility -> incremental trim.

Faithful re-expression of gold_aggr.py:66-221, like the reference
as SQL text: :func:`build_gold` is one parameterized ``spark.sql``
statement, analyzed once instead of step by step through the Column
API (the same Catalyst plan; Spark SQL, SIGMOD'15).

* ``time_series`` CTE  -> :data:`DERIVED` (join + derived
  measures with the reference's asymmetric CASE guards)
* ``aggregated`` CTE   -> 18 trailing 5-ROW window aggregates
  (rows frame, NOT a time range — gaps mean "last 5 observations",
  SURVEY.md §4.2.2) + row-level ``wind_solar_ratio``
* warm-up protocol     -> read from ``watermark - lookback`` then
  trim ``time_id > watermark`` after windowing
  (gold_aggr.py:98,219); both bounds are statement parameters.

Scale notes: the dim side is broadcast (tiny); the global window is
the parity mode — production mode feeds the same time series through
``windows.with_trailing_partitioned`` (one task per day instead of
one task total).
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BooleanType, DoubleType, IntegerType,
                               StructField, StructType, TimestampType)

from ..functions.guards import guarded_ratio_sql
from .windows import with_trailing_partitioned

WINDOW_ROWS = 5  # "5-minute" = 5-row trailing frame (gold_aggr.py:104+)
LOOKBACK = timedelta(minutes=4)  # warm-up lookback (gold_aggr.py:98)

#: avg output column -> time_series source column (gold_aggr.py:104-167)
AVG_MEASURES = {
    "avg_co2_emission": "co2_emission",
    "avg_total_production": "total_production",
    "avg_renewable_ratio": "renewable_ratio",
    "avg_solar_production": "solar_production",
    "avg_wind_production": "wind_production",
    "avg_offshore_wind": "offshore_wind_production",
    "avg_onshore_wind": "onshore_wind_production",
    "avg_production_large_plants": "production_large_plants",
    "avg_production_small_plants": "production_small_plants",
    "avg_exchange_sum": "exchange_sum",
    "avg_exchange_germany": "exchange_germany",
    "avg_exchange_netherlands": "exchange_netherlands",
    "avg_exchange_great_brt": "exchange_great_brt",
    "avg_exchange_norway": "exchange_norway",
    "avg_exchange_sweden": "exchange_sweden",
    "avg_exchange_dk1_dk2": "exchange_dk1_dk2",
}

#: stddev output column -> source column (gold_aggr.py:170-177)
STDDEV_MEASURES = {
    "production_volatility": "total_production",
    "co2_volatility": "co2_emission",
}

TIME_FEATURES = ["day_of_week", "hour_of_day", "is_weekend", "season"]

#: what :func:`build_gold` writes; readers of the gold table pass it
#: instead of inferring it from the files
GOLD_SCHEMA = StructType(
    [StructField("time_id", TimestampType())]
    + [StructField(c, DoubleType()) for c in (
        list(AVG_MEASURES) + list(STDDEV_MEASURES) + ["wind_solar_ratio"])]
    + [StructField("day_of_week", IntegerType()),
       StructField("hour_of_day", IntegerType()),
       StructField("is_weekend", BooleanType()),
       StructField("season", IntegerType())])


def _window_aggs(w) -> list:
    aggs = [F.avg(src).over(w).alias(dst) for dst, src in AVG_MEASURES.items()]
    aggs += [F.stddev(src).over(w).alias(dst)
             for dst, src in STDDEV_MEASURES.items()]
    return aggs


def _window_aggs_sql() -> str:
    """:func:`_window_aggs` over the global trailing frame, as SQL."""
    frame = (f"OVER (ORDER BY time_id ROWS BETWEEN {WINDOW_ROWS - 1} "
             "PRECEDING AND CURRENT ROW)")
    return ", ".join(
        [f"avg({src}) {frame} AS {dst}" for dst, src in AVG_MEASURES.items()]
        + [f"stddev({src}) {frame} AS {dst}"
           for dst, src in STDDEV_MEASURES.items()])


_TOTAL = "production_large_plants + production_small_plants"

#: the ``time_series`` CTE's derived measures (gold_aggr.py:68-98), as
#: SQL over the fact columns, which the CTE also passes through
DERIVED = {
    "total_production": _TOTAL,
    # ELSE 0 guard — gold_aggr.py:73-78 (asymmetric vs the ratio below)
    "renewable_ratio": guarded_ratio_sql(
        "solar_production + offshore_wind_production"
        " + onshore_wind_production", _TOTAL, 0.0),
    "wind_production": "offshore_wind_production + onshore_wind_production",
}


def _time_series_sql(lookback: bool) -> str:
    """The ``time_series`` CTE over ``{fact}`` and ``{dim}`` plus the
    row-level ``wind_solar_ratio`` with its ELSE 1 default
    (gold_aggr.py:180-184).  With ``lookback`` the fact scan starts
    past ``:read_from``, the warm-up bound ``watermark - 4 minutes``.
    dim_time is one row per minute — a year is ~526k rows / a few MB:
    always broadcast, the fact side never shuffles for this join."""
    where = "WHERE time_id > :read_from" if lookback else ""
    cols = ", ".join(f"{sql} AS {name}" for name, sql in DERIVED.items())
    ratio = guarded_ratio_sql("wind_production", "solar_production", 1.0)
    return f"""
        SELECT /*+ BROADCAST(d) */ *, {ratio} AS wind_solar_ratio
        FROM (SELECT *, {cols} FROM {{fact}} {where})
        JOIN (SELECT time_id, day_of_week, hour AS hour_of_day,
                     is_weekend, season FROM {{dim}}) d USING (time_id)"""


def build_gold(fact: DataFrame, dim: DataFrame, watermark=None,
               scaled: bool = False) -> DataFrame:
    """Full gold build (gold_aggr.py:66-221).

    ``scaled=True`` computes the identical result with the window
    partitioned by day + cross-day warm-up replay (100 TB path);
    ``scaled=False`` is the oracle-exact single-window parity path.
    """
    spark = fact.sparkSession
    series = _time_series_sql(watermark is not None)
    args = ({} if watermark is None else
            {"read_from": watermark - LOOKBACK, "wm": watermark})
    trim = "" if watermark is None else "WHERE time_id > :wm"
    if scaled:
        out = with_trailing_partitioned(
            spark.sql(series, args=args, fact=fact, dim=dim),
            "time_id", WINDOW_ROWS, _window_aggs).select(*GOLD_SCHEMA.names)
        # trim warm-up rows after windowing (gold_aggr.py:219)
        return out if watermark is None else out.filter(
            F.col("time_id") > F.lit(watermark))
    return spark.sql(f"""
        SELECT * FROM (
            SELECT time_id, {_window_aggs_sql()}, wind_solar_ratio,
                   {", ".join(TIME_FEATURES)}
            FROM ({series}))
        {trim}""", args=args, fact=fact, dim=dim)


#: The 13-column ML feature export (gold_aggr.py:236-251).
EXPORT_COLUMNS = [
    "time_id", "avg_co2_emission", "avg_total_production",
    "avg_renewable_ratio", "avg_solar_production", "avg_wind_production",
    "avg_offshore_wind", "avg_onshore_wind", "production_volatility",
    "co2_volatility", "wind_solar_ratio", "hour_of_day", "is_weekend",
    "season",
]
