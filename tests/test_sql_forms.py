"""The calendar and guard rules have a Column form and a Spark SQL
text form (``functions.timeparts``, ``functions.guards``); the two
give the same values on every month and weekday, and on a positive,
zero, negative and NULL denominator."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from energi_data_pipeline_spark.functions.guards import (guarded_ratio,
                                                         guarded_ratio_sql)
from energi_data_pipeline_spark.functions.timeparts import (
    dow_sunday0, dow_sunday0_sql, is_weekend, is_weekend_sql, season,
    season_sql)


def test_calendar_forms_agree_on_every_month_and_weekday(spark):
    # the first seven days of each month of 2025 cover all weekdays
    days = [(datetime(2025, m, d, 12, 30),)
            for m in range(1, 13) for d in range(1, 8)]
    ts = spark.createDataFrame(days, "ts timestamp")
    got = ts.select(
        "ts",
        dow_sunday0(F.col("ts")).alias("dow"),
        F.expr(dow_sunday0_sql("ts")).alias("dow_sql"),
        is_weekend(F.col("ts")).alias("weekend"),
        F.expr(is_weekend_sql("ts")).alias("weekend_sql"),
        season(F.col("ts")).alias("season"),
        F.expr(season_sql("ts")).alias("season_sql")).collect()
    assert len(got) == 84
    assert {(r.ts.month, r.dow) for r in got} == {
        (m, d) for m in range(1, 13) for d in range(7)}
    for r in got:
        assert (r.dow, r.weekend, r.season) \
            == (r.dow_sql, r.weekend_sql, r.season_sql), r
    assert ts.select(F.expr(dow_sunday0_sql("ts"))).schema \
        == ts.select(dow_sunday0(F.col("ts"))).schema


def test_guard_forms_agree_on_every_denominator_sign(spark):
    rows = [(3.0, 2.0), (3.0, 0.0), (3.0, -1.5), (3.0, None)]
    df = spark.createDataFrame(rows, "num double, den double")
    for default in (0.0, 1.0):
        col = guarded_ratio(F.col("num"), F.col("den"), default)
        text = F.expr(guarded_ratio_sql("num", "den", default))
        got = df.select(col.alias("c"), text.alias("t"))
        assert got.schema["c"].dataType == got.schema["t"].dataType
        assert [(r.c, r.t) for r in got.collect()] == [
            (1.5, 1.5), (default, default), (default, default),
            (default, default)]
