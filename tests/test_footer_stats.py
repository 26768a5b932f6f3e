"""Layer-table time keys are stored naive (INT64, isAdjustedToUTC=false)
with footer min/max, and ``io.max_watermark``, ``io.footer_stats`` and
``io.rows_after`` answer from those footers: the same values a scan
gives, with no Spark job, and a scan wherever the footers cannot
answer."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

from energi_data_pipeline_spark.io import (footer_stats, insert_if_absent,
                                           max_watermark, read_layer_table,
                                           rows_after, table_path)

from .test_layer_reads import job_group, local_tz

KEY = StructType([StructField("t", TimestampType())])
T0 = datetime(2025, 10, 26, 0, 0, tzinfo=timezone.utc)
#: the default a watermark falls back to
NONE = object()


def minutes(*offsets):
    return [(None if m is None else T0 + timedelta(minutes=m),)
            for m in offsets]


def scan_max(df):
    """``MAX(t)`` by a Spark job, as an aware UTC datetime."""
    v = df.agg(F.max("t")).first()[0]
    return NONE if v is None else v.astimezone(timezone.utc)


def part_files(wh):
    path = table_path(wh, "silver", "t")
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def insert(spark, wh, rows):
    insert_if_absent(spark, spark.createDataFrame(rows, KEY), wh,
                     "silver", "t", keys=["t"])


def read(spark, wh):
    return read_layer_table(spark, wh, "silver", "t", schema=KEY)


def assert_footer_answers(spark, df, want):
    with job_group(spark, "footer-watermark") as jobs:
        got = max_watermark(df, "t", NONE)
    assert jobs() == []
    assert got == want == scan_max(df)


def test_stored_encoding_is_naive_int64_with_stats(spark, tmp_path):
    wh = str(tmp_path)
    insert(spark, wh, minutes(0, 90, None))
    nulls = 0
    for f in part_files(wh):
        md = pq.read_metadata(f)
        col = md.schema.column(0)
        assert col.physical_type == "INT64"
        lt = json.loads(col.logical_type.to_json())
        assert (lt["isAdjustedToUTC"], lt["timeUnit"]) == (
            False, "microseconds")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(0).statistics
            assert st.has_min_max or st.null_count == st.num_values == 0 \
                or st.null_count == md.row_group(rg).num_rows
            nulls += st.null_count
    assert nulls == 1
    # DuckDB reads the key as a naive TIMESTAMP holding the UTC wall
    # clock, as the reference's tables hold it
    got = duckdb.sql(
        f"SELECT t FROM read_parquet('{table_path(wh, 'silver', 't')}"
        "/*.parquet') WHERE t IS NOT NULL ORDER BY t").fetchall()
    assert got == [(datetime(2025, 10, 26, 0, 0),),
                   (datetime(2025, 10, 26, 1, 30),)]


def test_absent_table(spark, tmp_path):
    assert read(spark, str(tmp_path)) is None
    assert max_watermark(None, "t", NONE) is NONE


def test_all_null_keys(spark, tmp_path):
    wh = str(tmp_path)
    insert(spark, wh, minutes(None, None))
    df = read(spark, wh)
    assert_footer_answers(spark, df, NONE)
    # the insert keeps one row per key, NULL included
    assert footer_stats(df, "t") == (df.count(), None, None) \
        == (1, None, None)
    assert rows_after(df, "t", T0) is None


def test_footer_stats_match_a_scan(spark, tmp_path):
    wh = str(tmp_path)
    insert(spark, wh, minutes(5, 0, None))
    insert(spark, wh, minutes(7, 3))
    df = read(spark, wh)
    assert_footer_answers(spark, df, T0 + timedelta(minutes=7))
    with job_group(spark, "footer-stats") as jobs:
        stats = footer_stats(df, "t")
    assert jobs() == []
    scan = df.agg(F.count(F.lit(1)), F.min("t"), F.max("t")).first()
    assert stats == (scan[0], scan[1].astimezone(timezone.utc),
                     scan[2].astimezone(timezone.utc))
    # a derived frame is scanned, with the same answer
    derived = df.where(F.col("t") < T0 + timedelta(minutes=6))
    assert footer_stats(derived, "t") is None
    assert max_watermark(derived, "t", NONE) == T0 + timedelta(minutes=5)


def test_int96_file_next_to_new_files_is_scanned(spark, tmp_path):
    """A legacy INT96 part file has no min/max: the watermark falls
    back to the scan, which reads both encodings."""
    wh = str(tmp_path)
    spark.createDataFrame(minutes(9), KEY).coalesce(1).write.parquet(
        table_path(wh, "silver", "t"))
    (legacy,) = part_files(wh)
    assert pq.read_metadata(legacy).schema.column(0).physical_type \
        == "INT96"
    insert(spark, wh, minutes(4))
    df = read(spark, wh)
    assert footer_stats(df, "t") is None
    assert max_watermark(df, "t", NONE) == scan_max(df) \
        == T0 + timedelta(minutes=9)
    # the bounded read keeps every file when it cannot choose
    assert sorted(rows_after(df, "t", T0).inputFiles()) \
        == sorted(df.inputFiles())


def test_file_uri_warehouse(spark, tmp_path):
    wh = tmp_path.as_uri()
    insert(spark, wh, minutes(1, 2))
    df = read(spark, wh)
    assert_footer_answers(spark, df, T0 + timedelta(minutes=2))


def test_copenhagen_local_zone(spark, tmp_path):
    """Keys written and read on a driver in Copenhagen name the same
    UTC minutes, including the two that both collect as local 02:30
    in the 2025-10-26 DST fall-back hour."""
    wh = str(tmp_path)
    with local_tz("Europe/Copenhagen"):
        insert(spark, wh, minutes(30))
        df = read(spark, wh)
        assert_footer_answers(spark, df, T0 + timedelta(minutes=30))
        insert(spark, wh, minutes(90))
        df = read(spark, wh)
        assert_footer_answers(spark, df, T0 + timedelta(minutes=90))


def test_rows_after_reads_only_newer_files(spark, tmp_path):
    wh = str(tmp_path)
    insert(spark, wh, minutes(0, 1))
    insert(spark, wh, minutes(2, 3))
    df = read(spark, wh)
    after = T0 + timedelta(minutes=1)
    newer = rows_after(df, "t", after)
    assert 0 < len(newer.inputFiles()) < len(df.inputFiles())
    assert sorted(r.t for r in newer.collect()) == sorted(
        r.t for r in df.where(F.col("t") > after).collect()) \
        == [T0.replace(tzinfo=None) + timedelta(minutes=m)
            for m in (2, 3)]
    assert rows_after(df, "t", T0 + timedelta(minutes=3)) is None


@pytest.mark.parametrize("bound", [T0, T0.replace(tzinfo=None)])
def test_rows_after_bound_like_a_literal(spark, tmp_path, bound):
    """An aware bound and a naive one (local time, as PySpark reads a
    naive literal) choose the files the filter would keep."""
    wh = str(tmp_path)
    with local_tz("Europe/Copenhagen"):
        insert(spark, wh, minutes(-90))
        insert(spark, wh, minutes(30))
        df = read(spark, wh)
        want = sorted(r.t for r in df.where(F.col("t") > F.lit(bound))
                      .collect())
        got = rows_after(df, "t", bound)
        assert (sorted(r.t for r in got.collect()) if got else []) \
            == want
