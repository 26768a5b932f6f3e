"""Layer-table time keys are stored naive (INT64, isAdjustedToUTC=false)
with footer min/max, and ``io.layer_span`` and ``io.read_layer_after``
answer from the footers of the table's listed files: the same values
a scan gives, with no Spark job, and a scan wherever the footers
cannot answer.  ``io.max_watermark`` scans any frame."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

from energi_data_pipeline_spark.io import (insert_if_absent, layer_span,
                                           max_watermark, read_layer_after,
                                           read_layer_table, table_path)

from .test_layer_reads import job_group, local_tz

KEY = StructType([StructField("t", TimestampType())])
T0 = datetime(2025, 10, 26, 0, 0, tzinfo=timezone.utc)
#: the default a watermark falls back to
NONE = object()


def minutes(*offsets):
    return [(None if m is None else T0 + timedelta(minutes=m),)
            for m in offsets]


def scan_span(df):
    """``(COUNT(*), MIN(t), MAX(t))`` by a Spark job, min and max as
    aware UTC datetimes."""
    n, lo, hi = df.agg(F.count(F.lit(1)), F.min("t"), F.max("t")).first()
    return n, *(v and v.astimezone(timezone.utc) for v in (lo, hi))


def part_files(wh):
    path = table_path(wh, "silver", "t")
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def insert(spark, wh, rows):
    insert_if_absent(spark, spark.createDataFrame(rows, KEY), wh,
                     "silver", "t", keys=["t"])


def read(spark, wh):
    return read_layer_table(spark, wh, "silver", "t", schema=KEY)


def span(spark, wh):
    return layer_span(spark, wh, "silver", "t", "t")


def after(spark, wh, bound):
    return read_layer_after(spark, wh, "silver", "t", KEY, bound)


def assert_footer_answers(spark, wh, want):
    """The footers give the table's span with no Spark job: the span a
    scan gives, with ``want`` its max."""
    with job_group(spark, "footer-span") as jobs:
        got = span(spark, wh)
    assert jobs() == []
    assert got == scan_span(read(spark, wh))
    assert got[2] == want


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
    wh = str(tmp_path)
    assert read(spark, wh) is None
    with job_group(spark, "absent") as jobs:
        assert span(spark, wh) == (0, None, None)
        assert after(spark, wh, T0) is None
    assert jobs() == []
    assert max_watermark(None, "t", NONE) is NONE


def test_all_null_keys(spark, tmp_path):
    wh = str(tmp_path)
    insert(spark, wh, minutes(None, None))
    assert_footer_answers(spark, wh, None)
    # the insert keeps one row per key, NULL included
    assert span(spark, wh) == (read(spark, wh).count(), None, None) \
        == (1, None, None)
    assert after(spark, wh, T0) is None


def test_footer_stats_match_a_scan(spark, tmp_path):
    wh = str(tmp_path)
    insert(spark, wh, minutes(5, 0, None))
    insert(spark, wh, minutes(7, 3))
    assert_footer_answers(spark, wh, T0 + timedelta(minutes=7))
    assert span(spark, wh) == (5, T0, T0 + timedelta(minutes=7))
    # a derived frame is scanned, with the same answer
    derived = read(spark, wh).where(F.col("t") < T0 + timedelta(minutes=6))
    assert max_watermark(derived, "t", NONE) == T0 + timedelta(minutes=5)


def test_int96_file_next_to_new_files_is_scanned(spark, tmp_path):
    """A legacy INT96 part file has no min/max: the span falls back to
    the scan, which reads both encodings."""
    wh = str(tmp_path)
    spark.createDataFrame(minutes(9), KEY).coalesce(1).write.parquet(
        table_path(wh, "silver", "t"))
    (legacy,) = part_files(wh)
    assert pq.read_metadata(legacy).schema.column(0).physical_type \
        == "INT96"
    insert(spark, wh, minutes(4))
    df = read(spark, wh)
    with job_group(spark, "int96-span") as jobs:
        got = span(spark, wh)
    assert jobs() != []
    assert got == scan_span(df) \
        == (2, T0 + timedelta(minutes=4), T0 + timedelta(minutes=9))
    # the bounded read keeps every file when it cannot choose
    assert sorted(after(spark, wh, T0).inputFiles()) \
        == sorted(df.inputFiles())


def test_file_uri_warehouse(spark, tmp_path):
    """A ``file://`` warehouse is listed by Spark's Hadoop FileSystem
    and its footers read on the driver: its span and the choice of a
    bounded read's files run no Spark job."""
    wh = tmp_path.as_uri()
    insert(spark, wh, minutes(1, 2))
    assert_footer_answers(spark, wh, T0 + timedelta(minutes=2))
    insert(spark, wh, minutes(3))
    with job_group(spark, "uri-after") as jobs:
        newer = after(spark, wh, T0 + timedelta(minutes=2))
    assert jobs() == []
    assert 0 < len(newer.inputFiles()) < len(read(spark, wh).inputFiles())
    assert [r.t for r in newer.collect()] \
        == [T0.replace(tzinfo=None) + timedelta(minutes=3)]
    assert after(spark, wh, T0 + timedelta(minutes=3)) is None


def test_copenhagen_local_zone(spark, tmp_path):
    """Keys written and read on a driver in Copenhagen name the same
    UTC minutes, including the two that both collect as local 02:30
    in the 2025-10-26 DST fall-back hour."""
    wh = str(tmp_path)
    with local_tz("Europe/Copenhagen"):
        insert(spark, wh, minutes(30))
        assert_footer_answers(spark, wh, T0 + timedelta(minutes=30))
        insert(spark, wh, minutes(90))
        assert_footer_answers(spark, wh, T0 + timedelta(minutes=90))


def test_rows_after_reads_only_newer_files(spark, tmp_path):
    wh = str(tmp_path)
    insert(spark, wh, minutes(0, 1))
    insert(spark, wh, minutes(2, 3))
    df = read(spark, wh)
    bound = T0 + timedelta(minutes=1)
    newer = after(spark, wh, bound)
    assert 0 < len(newer.inputFiles()) < len(df.inputFiles())
    assert sorted(r.t for r in newer.collect()) == sorted(
        r.t for r in df.where(F.col("t") > bound).collect()) \
        == [T0.replace(tzinfo=None) + timedelta(minutes=m)
            for m in (2, 3)]
    assert after(spark, wh, T0 + timedelta(minutes=3)) is None


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
        got = after(spark, wh, bound)
        assert (sorted(r.t for r in got.collect()) if got else []) \
            == want
