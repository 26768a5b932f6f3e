"""Silver layer: bronze -> star schema (dim_time + fact).

Re-expresses silver_transform.py:61-106, like the reference, as SQL
text: each builder is one parameterized ``spark.sql`` statement over
the bronze frame, so it is analyzed once instead of step by step
through the Column API (the same Catalyst plan; Spark SQL, SIGMOD'15).
The builders do not filter by time: what an increment builds is the
bronze frame the caller hands them, the rows past the silver
watermark (io.read_layer_after in pipelines.medallion, or a filtered
micro-batch).  With no watermark literal in their text, a builder's
plan is the same every increment and its generated code is compiled
once.

:data:`DIM_TIME_SCHEMA` and :data:`FACT_SCHEMA` declare what the two
builders write (the fact columns are named once, in
:data:`FACT_MEASURES`); readers of the silver tables pass them
instead of inferring them from the files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (BooleanType, DateType, DoubleType,
                               IntegerType, StructField, StructType,
                               TimestampType)

from ..functions.timeparts import dow_sunday0_sql, is_weekend_sql, season_sql


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


def build_dim_time(bronze: DataFrame,
                   ts_col: str = "minutes1_utc") -> DataFrame:
    """``SELECT DISTINCT`` time features (silver_transform.py:61-82).

    Note: like the reference, the dim builder does *not* filter NULL
    keys (the fact builder does) — a NULL-keyed dim row is possible,
    matching silver_transform.py:61-82 vs :104.
    """
    ts = f"`{ts_col}`"
    return bronze.sparkSession.sql(f"""
        SELECT DISTINCT {ts} AS time_id, to_date({ts}) AS date,
               CAST(hour({ts}) AS INT) AS hour,
               CAST(minute({ts}) AS INT) AS minute,
               {dow_sunday0_sql(ts)} AS day_of_week,
               {is_weekend_sql(ts)} AS is_weekend,
               {season_sql(ts)} AS season
        FROM {{bronze}}""", bronze=bronze)


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


def build_fact(bronze: DataFrame,
               ts_col: str = "minutes1_utc") -> DataFrame:
    """Projection / rename / arithmetic + NULL-key filter
    (silver_transform.py:85-106)."""
    ts = f"`{ts_col}`"
    measures = ", ".join(f"{' + '.join(src)} AS {name}"
                         for name, src in FACT_MEASURES.items())
    return bronze.sparkSession.sql(
        f"SELECT {ts} AS time_id, {measures} FROM {{bronze}} "
        f"WHERE {ts} IS NOT NULL", bronze=bronze)
