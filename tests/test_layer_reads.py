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

from .conftest import SF0001


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


TABLES = ("customer", "documents", "embeddings", "events", "lineitem",
          "nation", "orders", "part", "region", "supplier")

#: Compares ``io._footer_schema`` with Spark's inference in a vanilla
#: session like the driver's (argv: the repository, then the table
#: paths; the first is the nanos file): untuned, on every path Spark
#: reads untuned, then after ``tune`` (which ``read_table`` runs
#: first), on every path.
VANILLA = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from energi_data_pipeline_spark.io import _footer_schema
from energi_data_pipeline_spark.session import tune
spark = SparkSession.builder.master("local[1]").appName("vanilla") \\
    .config("spark.ui.enabled", "false").getOrCreate()
nanos, *rest = sys.argv[2:]
for paths in (rest, [nanos, *rest]):
    for p in paths:
        want = spark.read.parquet(p).schema
        assert _footer_schema(spark, p) == want, (p, want)
    tune(spark)
print("vanilla ok", len(rest) + 1)
"""


def test_footer_schema_is_the_inferred_schema(spark, tmp_path):
    """A test table is read with the schema its first data file's
    footer gives on the driver: it must be the schema Spark's
    inference job gives, in the engine session and in a vanilla one,
    for every test table, a TIMESTAMP(NANOS) file and a directory of
    several files."""
    import glob
    import subprocess
    import sys

    import pandas as pd
    import pyarrow.parquet as pq

    from energi_data_pipeline_spark.io import _footer_schema, read_table

    nanos = str(tmp_path / "nanos.parquet")
    pd.DataFrame({"user_id": [1, 2], "ts": pd.to_datetime(
        [1, 2_000_000_001], unit="ns")}).to_parquet(nanos, index=False)
    assert str(pq.read_schema(nanos).field("ts").type) == "timestamp[ns]"
    multi = tmp_path / "multi.parquet"
    spark.range(40).selectExpr(
        "id", "cast(id as string) s", "array(id * 0.5) a",
        "timestamp_micros(id) t").repartition(4).write.parquet(str(multi))
    assert len(list(multi.glob("part-*"))) == 4
    paths = [nanos, *sorted(glob.glob(
        os.path.join(os.path.dirname(SF0001), "*", "*.parquet"))),
        str(multi)]
    assert len(paths) == 32
    for p in paths:
        assert _footer_schema(spark, p) == spark.read.parquet(p).schema, p
    # read_table floors the nanos column, and only that one: Spark
    # writes its timestamps as INT96, which pyarrow also reports as ns
    assert read_table(spark, str(tmp_path), "nanos").dtypes == [
        ("user_id", "bigint"), ("ts", "timestamp")]
    assert (read_table(spark, str(tmp_path), "multi").schema
            == spark.read.parquet(str(multi)).schema)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", VANILLA, repo, *paths],
                         capture_output=True, text=True, timeout=600)
    assert "vanilla ok 32" in out.stdout, out.stderr[-3000:]


def test_test_table_reads_run_no_job(spark):
    """Every test table read in a fresh session, and the stream
    sources built on one, run no Spark job to learn a schema."""
    from energi_data_pipeline_spark.io import read_table
    from energi_data_pipeline_spark.queries import load_all

    registry = load_all()
    fresh = spark.newSession()
    for name in TABLES:
        with job_group(fresh, f"read:{name}") as jobs:
            read_table(fresh, SF0001, name)
        assert jobs() == [], name
    for name in ("stream_tumbling_window", "stream_sessionization"):
        with job_group(fresh, f"stream:{name}") as jobs:
            assert registry[name].fn(fresh, SF0001).count()
        assert inference_jobs(jobs()) == [], name


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
