"""Gold layer: fact ⋈ dim -> derived measures -> 5-row moving
averages + volatility -> incremental trim.

Faithful re-expression of gold_aggr.py:66-221 (semantics only):

* ``time_series`` CTE  -> :func:`build_time_series` (join + derived
  measures with the reference's asymmetric CASE guards)
* ``aggregated`` CTE   -> 18 trailing 5-ROW window aggregates
  (rows frame, NOT a time range — gaps mean "last 5 observations",
  SURVEY.md §4.2.2) + row-level ``wind_solar_ratio``
* warm-up protocol     -> read from ``watermark - lookback`` then
  trim ``time_id > watermark`` after windowing
  (gold_aggr.py:98,219)

Scale notes: the dim side is broadcast (tiny); the global window is
the parity mode — production mode routes through
``windows.with_trailing_partitioned`` (one task per day instead of
one task total).
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BooleanType, DoubleType, IntegerType,
                               StructField, StructType, TimestampType)

from ..functions.guards import guarded_ratio
from .windows import trailing_window, with_trailing_partitioned

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


def build_time_series(fact: DataFrame, dim: DataFrame,
                      read_from=None) -> DataFrame:
    """The ``time_series`` CTE (gold_aggr.py:68-98).

    ``read_from`` is ``watermark - 4 minutes`` — the warm-up
    lookback predicate pushed into the fact scan.
    """
    fs = fact
    if read_from is not None:
        fs = fs.filter(F.col("time_id") > F.lit(read_from))
    total = F.col("production_large_plants") + F.col("production_small_plants")
    renewables = (F.col("solar_production") + F.col("offshore_wind_production")
                  + F.col("onshore_wind_production"))
    wind = F.col("offshore_wind_production") + F.col("onshore_wind_production")
    enriched = fs.select(
        "time_id",
        "co2_emission",
        total.alias("total_production"),
        # ELSE 0 guard — gold_aggr.py:73-78 (asymmetric vs the ratio below)
        guarded_ratio(renewables, total, 0.0).alias("renewable_ratio"),
        "solar_production",
        wind.alias("wind_production"),
        "offshore_wind_production",
        "onshore_wind_production",
        "production_large_plants",
        "production_small_plants",
        "exchange_sum",
        "exchange_germany",
        "exchange_netherlands",
        "exchange_great_brt",
        "exchange_norway",
        "exchange_sweden",
        "exchange_dk1_dk2",
    )
    dim_cols = dim.select(
        "time_id",
        F.col("day_of_week"),
        F.col("hour").alias("hour_of_day"),
        F.col("is_weekend"),
        F.col("season"),
    )
    # dim_time is one row per minute — a year is ~526k rows / a few MB:
    # always broadcast, the fact side never shuffles for this join.
    return enriched.join(F.broadcast(dim_cols), "time_id", "inner")


def _window_aggs(w) -> list:
    aggs = [F.avg(src).over(w).alias(dst) for dst, src in AVG_MEASURES.items()]
    aggs += [F.stddev(src).over(w).alias(dst)
             for dst, src in STDDEV_MEASURES.items()]
    return aggs


def build_gold(fact: DataFrame, dim: DataFrame, watermark=None,
               scaled: bool = False) -> DataFrame:
    """Full gold build (gold_aggr.py:66-221).

    ``scaled=True`` computes the identical result with the window
    partitioned by day + cross-day warm-up replay (100 TB path);
    ``scaled=False`` is the oracle-exact single-window parity path.
    """
    read_from = (watermark - LOOKBACK) if watermark is not None else None
    ts = build_time_series(fact, dim, read_from)

    # wind_solar_ratio is row-level (current row, not averaged) with
    # the ELSE 1 default — gold_aggr.py:180-184.
    ts = ts.withColumn(
        "wind_solar_ratio",
        guarded_ratio(F.col("wind_production"), F.col("solar_production"), 1.0),
    )

    if scaled:
        agged = with_trailing_partitioned(
            ts, "time_id", WINDOW_ROWS, _window_aggs)
    else:
        w = trailing_window(["time_id"], WINDOW_ROWS)
        agged = ts.select("*", *_window_aggs(w))

    out_cols = (["time_id"] + list(AVG_MEASURES) + list(STDDEV_MEASURES)
                + ["wind_solar_ratio"] + TIME_FEATURES)
    out = agged.select(*out_cols)
    if watermark is not None:
        # trim warm-up rows after windowing (gold_aggr.py:219)
        out = out.filter(F.col("time_id") > F.lit(watermark))
    return out


#: The 13-column ML feature export (gold_aggr.py:236-251).
EXPORT_COLUMNS = [
    "time_id", "avg_co2_emission", "avg_total_production",
    "avg_renewable_ratio", "avg_solar_production", "avg_wind_production",
    "avg_offshore_wind", "avg_onshore_wind", "production_volatility",
    "co2_volatility", "wind_solar_ratio", "hour_of_day", "is_weekend",
    "season",
]
