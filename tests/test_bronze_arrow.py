"""Pins of ``records_to_bronze``, the Arrow ingest of API records.

Every expected row is written out here, column by column, in
``BRONZE_FULL_SCHEMA`` order: the minute, the 15 measures, ``_extras``
and ``_load_id``.
"""

from __future__ import annotations

import calendar
from datetime import datetime

from pyspark.sql import functions as F

from energi_data_pipeline_spark.sources.normalize import (
    BRONZE_FULL_SCHEMA, records_to_bronze, snake_case)

from .fixtures import make_power_records


def _rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda r: (r[0] is None, r[0] or datetime.min))


def test_fixture_records(spark):
    df = records_to_bronze(spark, make_power_records()[:2], load_id="L")
    assert df.schema == BRONZE_FULL_SCHEMA
    assert _rows(df) == [
        (datetime(2025, 10, 25, 12, 0), 96.93, 1853.49, 511.29, 600.0,
         1117.86, 631.08, 129.15, -55.23, -2.58, -52.2, 23.12, 265.52,
         113.45, 47.74, -113.84, None, "L"),
        (datetime(2025, 10, 25, 12, 1), 104.84, 1373.0, 182.13, 599.99,
         1561.38, 1268.02, 285.28, -27.5, 108.2, 95.13, 86.88, 76.46,
         -115.54, -248.76, -175.04, None, "L"),
    ]


def test_drifted_records_keep_extras(spark):
    recs = [{"Minutes1UTC": "2025-11-29T10:00:00", "CO2Emission": 80,
             "GridFrequency": 50.02, "ConnectedArea": "DK1",
             "RetiredField": None},
            {"Minutes1UTC": "2025-11-29T10:01:00", "CO2Emission": "81.5"}]
    none14 = (None,) * 14
    assert _rows(records_to_bronze(spark, recs, load_id="L")) == [
        (datetime(2025, 11, 29, 10, 0), 80.0) + none14
        + ({"connected_area": "DK1", "grid_frequency": "50.02"}, "L"),
        (datetime(2025, 11, 29, 10, 1), 81.5) + none14 + (None, "L"),
    ]


def test_null_measures(spark):
    recs = [{"Minutes1UTC": "2025-11-29T10:02:00", "SolarPower": None,
             "ExchangeDK1_DK2": 0}]
    assert _rows(records_to_bronze(spark, recs, load_id="L")) == [
        (datetime(2025, 11, 29, 10, 2),) + (None,) * 14 + (0.0, None, "L")]


def test_z_suffixed_timestamps_with_seconds(spark):
    recs = [{"Minutes1UTC": "2025-11-30T23:59:59Z", "CO2Emission": 1.0},
            {"Minutes1UTC": "2025-12-01T00:00:30.250Z", "CO2Emission": 2.0},
            {"Minutes1UTC": None, "CO2Emission": 3.0}]
    df = records_to_bronze(spark, recs, load_id="L")
    none14 = (None,) * 14
    assert _rows(df) == [
        (datetime(2025, 11, 30, 23, 59), 1.0) + none14 + (None, "L"),
        (datetime(2025, 12, 1, 0, 0), 2.0) + none14 + (None, "L"),
        (None, 3.0) + none14 + (None, "L"),
    ]
    # the stored instant is the parsed UTC minute, independent of the
    # local time zone of the Python process that collects it
    epochs = sorted(r[0] for r in df.where(F.col("minutes1_utc").isNotNull())
                    .select(F.unix_timestamp("minutes1_utc")).collect())
    assert epochs == [
        calendar.timegm(datetime(2025, 11, 30, 23, 59).timetuple()),
        calendar.timegm(datetime(2025, 12, 1, 0, 0).timetuple())]


def test_empty_batch(spark):
    df = records_to_bronze(spark, [], load_id="L")
    assert df.schema == BRONZE_FULL_SCHEMA
    assert df.collect() == []


def test_snake_case_is_memoized():
    snake_case.cache_clear()
    assert snake_case("ExchangeDK1_DE") == "exchange_dk1_de"
    assert snake_case("ExchangeDK1_DE") == "exchange_dk1_de"
    assert snake_case.cache_info().hits == 1
