"""Silver layer: bronze -> star schema (dim_time + fact).

Re-expresses silver_transform.py:61-106 as pure DataFrame
transforms.  Both builders take an optional watermark and filter
``ts > watermark``.  The filter bounds what an increment builds and
writes; what it reads is bounded by the caller, which hands them only
the bronze files whose footers hold minutes past the watermark
(io.rows_after in pipelines.medallion).

:data:`DIM_TIME_SCHEMA` and :data:`FACT_SCHEMA` declare what the two
builders write (the fact columns are named once, in
:data:`FACT_MEASURES`); readers of the silver tables pass them
instead of inferring them from the files.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (BooleanType, DateType, DoubleType,
                               IntegerType, StructField, StructType,
                               TimestampType)

from ..functions.timeparts import dow_sunday0, is_weekend, season


def time_features(ts: Column) -> list[Column]:
    """The dim_time derived columns (silver_transform.py:65-78)."""
    return [
        F.to_date(ts).alias("date"),
        F.hour(ts).cast("int").alias("hour"),
        F.minute(ts).cast("int").alias("minute"),
        dow_sunday0(ts).alias("day_of_week"),
        is_weekend(ts).alias("is_weekend"),
        season(ts).alias("season"),
    ]


#: what :func:`build_dim_time` writes
DIM_TIME_SCHEMA = StructType([
    StructField("time_id", TimestampType()),
    StructField("date", DateType()),
    StructField("hour", IntegerType()),
    StructField("minute", IntegerType()),
    StructField("day_of_week", IntegerType()),
    StructField("is_weekend", BooleanType()),
    StructField("season", IntegerType()),
])


def build_dim_time(bronze: DataFrame, ts_col: str = "minutes1_utc",
                   watermark=None) -> DataFrame:
    """``SELECT DISTINCT`` time features (silver_transform.py:61-82).

    Note: like the reference, the dim builder does *not* filter NULL
    keys (the fact builder does) — a NULL-keyed dim row is possible,
    matching silver_transform.py:61-82 vs :104.
    """
    df = bronze
    if watermark is not None:
        df = df.filter(F.col(ts_col) > F.lit(watermark))
    ts = F.col(ts_col)
    return df.select(ts.alias("time_id"), *time_features(ts)).distinct()


#: the 13 fact measures :func:`build_fact` writes, in column order:
#: output name -> the bronze column(s) it is the sum of
#: (silver_transform.py:85-106)
FACT_MEASURES = {
    "co2_emission": ("co2_emission",),
    "production_large_plants": ("production_ge100_mw",),
    "production_small_plants": ("production_lt100_mw",),
    "solar_production": ("solar_power",),
    "offshore_wind_production": ("offshore_wind_power",),
    "onshore_wind_production": ("onshore_wind_power",),
    "exchange_sum": ("exchange_sum",),
    "exchange_germany": ("exchange_dk1_de", "exchange_dk2_de"),
    "exchange_netherlands": ("exchange_dk1_nl",),
    "exchange_great_brt": ("exchange_dk1_gb",),
    "exchange_norway": ("exchange_dk1_no",),
    "exchange_sweden": ("exchange_dk1_se", "exchange_dk2_se"),
    "exchange_dk1_dk2": ("exchange_dk1_dk2",),
}

#: what :func:`build_fact` writes: the minute key and the measures
FACT_SCHEMA = StructType(
    [StructField("time_id", TimestampType())]
    + [StructField(c, DoubleType()) for c in FACT_MEASURES])


def build_fact(bronze: DataFrame, ts_col: str = "minutes1_utc",
               watermark=None) -> DataFrame:
    """Projection / rename / arithmetic + NULL-key filter
    (silver_transform.py:85-106)."""
    df = bronze
    if watermark is not None:
        df = df.filter(F.col(ts_col) > F.lit(watermark))
    df = df.filter(F.col(ts_col).isNotNull())
    return df.select(
        F.col(ts_col).alias("time_id"),
        *[functools.reduce(operator.add, map(F.col, src)).alias(name)
          for name, src in FACT_MEASURES.items()])
