"""``io.read_layer_table`` and ``io.insert_if_absent``: absence is
decided explicitly, read errors are loud, and typed reads run no
schema-inference job."""

from __future__ import annotations

import contextlib
import os
import time
from datetime import datetime, timezone

import pytest
from pyspark.sql.types import (LongType, StructField, StructType,
                               TimestampType)

from energi_data_pipeline_spark.io import (insert_if_absent, max_watermark,
                                           read_layer_table, table_path)


@contextlib.contextmanager
def job_group(spark, name: str):
    """Run the block under Spark job group ``name``; yields a callable
    returning, per job of the group, the call-site details of its
    stages (first line: the JVM method that submitted it).  A skipped
    stage is left out: it ran nothing, and a long session's status
    store evicts skipped stages first."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)

    def jobs() -> list[list[str]]:
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        return [[store.lastStageAttempt(s).details()
                 for s in st.getJobInfo(j).stageIds
                 if st.getStageInfo(s) is not None]
                for j in sorted(st.getJobIdsForGroup(name))]
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def inference_jobs(jobs: list[list[str]]) -> list[list[str]]:
    """Jobs submitted by a ``DataFrameReader`` call: a read submits a
    job only to infer the schema of its files."""
    return [j for j in jobs
            if any("DataFrameReader." in d.split("\n", 1)[0] for d in j)]


@contextlib.contextmanager
def local_tz(name: str):
    """Run the block with ``name`` as this process's local time zone
    (the zone PySpark converts collected timestamps into)."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


KEY = StructType([StructField("k", LongType())])


def test_absent_table_is_none(spark, tmp_path):
    wh = str(tmp_path)
    assert read_layer_table(spark, wh, "silver", "missing") is None
    # a directory with no data files is absent too: empty, or only
    # Spark's commit marker and hidden files
    path = table_path(wh, "silver", "t")
    os.makedirs(path)
    assert read_layer_table(spark, wh, "silver", "t") is None
    for name in ("_SUCCESS", ".part-0.crc"):
        open(os.path.join(path, name), "w").close()
    assert read_layer_table(spark, wh, "silver", "t", schema=KEY) is None


@pytest.mark.parametrize("typed", [False, True])
def test_corrupt_part_file_raises(spark, tmp_path, typed):
    wh = str(tmp_path)
    path = table_path(wh, "silver", "t")
    spark.range(100).withColumnRenamed("id", "k").coalesce(1) \
        .write.parquet(path)
    part = next(f for f in os.listdir(path) if f.endswith(".parquet"))
    with open(os.path.join(path, part), "r+b") as fh:
        fh.truncate(os.path.getsize(fh.name) // 2)
    try:
        df = read_layer_table(spark, wh, "silver", "t",
                              schema=KEY if typed else None)
    except Exception:
        return  # inference read the broken footer: loud at the read
    assert df is not None, "a corrupt table read as absent"
    with pytest.raises(Exception):
        df.collect()


def _segments(spark, wh, n=3):
    """A segment-append table of ``n`` batches; returns its schema."""
    from energi_data_pipeline_spark.io import append_batch_segment

    for b in range(n):
        batch = spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "k")
        append_batch_segment(spark, batch, wh, "silver", "seg", b)
    return batch.schema


@pytest.mark.parametrize("typed", [False, True])
def test_compaction_of_a_corrupt_segment_raises(spark, tmp_path, typed):
    """A truncated part file makes compaction fail loudly, never
    report "nothing to compact"."""
    from energi_data_pipeline_spark.io import compact_batch_segments

    wh = str(tmp_path)
    schema = _segments(spark, wh)
    seg = os.path.join(table_path(wh, "silver", "seg"), "_bid=0")
    for part in os.listdir(seg):
        if part.endswith(".parquet"):
            with open(os.path.join(seg, part), "r+b") as fh:
                fh.truncate(os.path.getsize(fh.name) // 2)
    with pytest.raises(Exception):
        compact_batch_segments(spark, wh, "silver", "seg", upto_bid=1,
                               schema=schema if typed else None)


def test_typed_compaction_runs_no_inference_job(spark, tmp_path):
    from energi_data_pipeline_spark.io import compact_batch_segments

    wh = str(tmp_path)
    schema = _segments(spark, wh)
    assert compact_batch_segments(spark, wh, "silver", "missing", 1,
                                  schema=schema) == 0
    with job_group(spark, "typed-compaction") as jobs:
        assert compact_batch_segments(spark, wh, "silver", "seg", 1,
                                      schema=schema) == 2
    assert jobs() and inference_jobs(jobs()) == []
    got = read_layer_table(spark, wh, "silver", "seg", schema=schema)
    assert sorted(r.k for r in got.collect()) == list(range(30))


def test_typed_read_runs_no_job(spark, tmp_path):
    wh = str(tmp_path)
    spark.range(10).withColumnRenamed("id", "k") \
        .write.parquet(table_path(wh, "silver", "t"))
    with job_group(spark, "typed-read") as jobs:
        df = read_layer_table(spark, wh, "silver", "t", schema=KEY)
        assert df.schema == KEY
    assert jobs() == []


def test_insert_if_absent_reads_keys_without_inference(spark, tmp_path):
    wh = str(tmp_path)
    first = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    insert_if_absent(spark, first, wh, "silver", "t", keys=["k"])
    again = spark.createDataFrame([(2, "LOSER"), (3, "c"), (3, "dup")],
                                  "k long, v string")
    with job_group(spark, "insert-if-absent") as jobs:
        insert_if_absent(spark, again, wh, "silver", "t", keys=["k"])
    assert jobs() and inference_jobs(jobs()) == []
    got = sorted(tuple(r) for r in
                 read_layer_table(spark, wh, "silver", "t").collect())
    assert [r[0] for r in got] == [1, 2, 3]
    assert got[:2] == [(1, "a"), (2, "b")]


def test_uri_warehouse_is_read_not_absent(spark, tmp_path):
    """A warehouse given as a URI is resolved by the Hadoop FileSystem:
    an existing table reads as present, so the anti-join runs and a
    rerun appends nothing."""
    wh = tmp_path.as_uri()
    assert wh.startswith("file:")
    assert read_layer_table(spark, wh, "silver", "t", schema=KEY) is None
    os.makedirs(table_path(str(tmp_path), "silver", "t"))
    open(os.path.join(table_path(str(tmp_path), "silver", "t"),
                      "_SUCCESS"), "w").close()
    assert read_layer_table(spark, wh, "silver", "t", schema=KEY) is None
    batch = spark.createDataFrame([(1,), (2,)], KEY)
    for _ in range(2):
        insert_if_absent(spark, batch, wh, "silver", "t", keys=["k"])
    got = read_layer_table(spark, wh, "silver", "t", schema=KEY)
    assert sorted(r.k for r in got.collect()) == [1, 2]


def test_timestamp_watermark_is_utc_in_any_local_zone(spark):
    """Both instants collect as the same naive local 02:30 in
    Copenhagen (the 2025-10-26 DST fall-back hour); the watermark
    keeps them apart and names the UTC minute."""
    with local_tz("Europe/Copenhagen"):
        for hour in (0, 1):
            df = spark.sql(
                f"SELECT timestamp'2025-10-26 0{hour}:30:00' AS t")
            assert isinstance(df.schema["t"].dataType, TimestampType)
            assert max_watermark(df, "t", None) == datetime(
                2025, 10, 26, hour, 30, tzinfo=timezone.utc)
