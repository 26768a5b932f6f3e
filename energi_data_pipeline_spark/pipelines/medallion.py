"""The medallion pipeline: Spark-native equivalent of the
reference's three entry points (SURVEY.md §3).

Storage model: a warehouse directory of parquet tables in
``bronze/ silver/ gold/`` layers (the reference's DuckDB schemas,
silver_transform.py:19).  Every table is written with
``insert_if_absent`` (anti-join append = ON CONFLICT DO NOTHING) and
reads incrementally from its own destination watermark
(COALESCE(MAX(time_id), epoch)) — the reference's self-watermarking
protocol, no external state store.  The two silver tables, dim_time
and fact_power_system, share one bronze read past the lower of their
watermarks and insert concurrently (io.run_concurrently): they read
the same rows and write different tables, so a crash between them is
repaired by the next increment whichever finished first.

Reads: every read passes a schema the engine already knows — bronze
``BRONZE_FULL_SCHEMA``, fact, dim and gold the schemas declared next
to their builders, and an anti-join's destination its key column
alone — so no read runs a schema-inference job.  A watermark and the
silver stats line read no table: they come from the listing of the
table's data files and their parquet footers (io.layer_span), which
also choose the files of every bounded read (io.read_layer_after).
Bronze is ingested through Arrow (sources.normalize) as one
partition, so its dedup needs no exchange, and each layer builder is
one SQL statement (operators.silver, operators.gold).  The silver
plans carry no per-increment literal: the builders do not filter,
and a bronze read whose files all lie past the watermark filters
``IS NOT NULL`` (io.read_layer_after), so their generated code is
compiled once per session.

Scale: every layer table is written unpartitioned, with its time key
stored as a naive INT64 timestamp whose parquet footers carry min/max
(io.naive_timestamps).  Silver reads only the bronze files holding
minutes past its watermark.  Each anti-join reads only the destination
files whose footer max is past its bound: the watermark for dim, fact
and gold, and for bronze the instant before the batch's first minute
past the cursor, which the fetched records already hold on the
driver — none in a steady increment, the live API's re-delivered
cursor minute included (io.insert_if_absent).  An increment with nothing
new runs no Spark job and writes no file.  Gold still scans the fact
and dim tables; at the benchmark's few-file scale, choosing their
newest files measured slower than the scan.  dim_time broadcasts; the
``scaled`` gold window runs partitioned-by-day with warm-up replay
(operators.windows).
"""

from __future__ import annotations

import functools
import time
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import (export_csv, insert_if_absent, layer_span,
                  read_layer_after, read_layer_table, run_concurrently)
from ..operators.gold import EXPORT_COLUMNS, GOLD_SCHEMA, build_gold
from ..operators.silver import (DIM_TIME_SCHEMA, FACT_SCHEMA,
                                build_dim_time, build_fact)
from ..sources.normalize import (BRONZE_FULL_SCHEMA, batch_load_id,
                                 record_minute, records_to_bronze)
from ..sources.rest import INITIAL_CURSOR, format_cursor

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def run_bronze(spark: SparkSession, warehouse: str, source) -> int:
    """bronze_ingest.py equivalent: fetch records from the cursor,
    normalize, drop the cursor-minute rows, append.

    The cursor is MAX(minutes1_utc) of the bronze table itself —
    the same self-watermark silver/gold already use, which drops the
    reference's external dlt state directory entirely.  The live
    API's ``start=`` is inclusive, so a fetch re-delivers the cursor
    minute; bronze already holds that key, and its rows are dropped
    here, on the driver.  The append's anti-join then reads only the
    bronze files holding a minute at or past the batch's first, which
    is none unless the source re-delivers older minutes (a replay).
    A fetch with nothing past the cursor writes nothing.
    """
    t0 = time.time()
    cursor = layer_span(spark, warehouse, "bronze", "power_system_raw",
                        "minutes1_utc")[2]
    cursor_str = format_cursor(cursor) if cursor else INITIAL_CURSOR
    fetched = source.fetch(cursor_str)
    minutes = [record_minute(r) for r in fetched]
    records = [r for r, m in zip(fetched, minutes)
               if cursor is None or m != cursor]
    if not records:
        print("bronze: no new records")
        return 0
    # the load id names the batch as fetched.  The batch is one
    # partition already on the driver: reported as SinglePartition,
    # its dedup needs no exchange (one job, one file)
    df = records_to_bronze(spark, records,
                           load_id=batch_load_id(fetched)).coalesce(1)
    first = min((m for m in minutes if m is not None and m != cursor),
                default=None)
    # the last instant before the batch's first minute
    after = None if first is None else first - timedelta(microseconds=1)
    insert_if_absent(spark, df, warehouse, "bronze", "power_system_raw",
                     keys=["minutes1_utc"], after=after)
    print(f"bronze: {len(records)} records in {time.time() - t0:.2f}s")
    return len(records)


def silver_step(spark: SparkSession, warehouse: str,
                bronze: DataFrame | None = None) -> None:
    """The silver upsert of the bronze rows past the silver
    watermark: the dim and fact inserts, run concurrently.

    The watermark ``lo`` is the lower of the two tables' own footer
    maxima; a completed increment leaves them equal.  ``bronze`` is
    one streaming micro-batch, filtered ``> lo`` here; None reads the
    bronze files whose footers hold a minute past ``lo``
    (:func:`run_silver`).  Each insert anti-joins past ``lo``, so
    after a crash between the two the lagging table's rows are
    rebuilt and the leading table's already-held keys dropped,
    whichever table led."""
    lo = min(layer_span(spark, warehouse, "silver", name, "time_id")[2]
             or EPOCH for name in ("dim_time", "fact_power_system"))
    if bronze is None:
        bronze = read_layer_after(spark, warehouse, "bronze",
                                  "power_system_raw", BRONZE_FULL_SCHEMA, lo)
        if bronze is None:
            return
    else:
        bronze = bronze.where(F.col("minutes1_utc") > F.lit(lo))
    run_concurrently(spark, [
        functools.partial(insert_if_absent, spark, build(bronze), warehouse,
                          "silver", name, keys=["time_id"], after=lo)
        for name, build in (("dim_time", build_dim_time),
                            ("fact_power_system", build_fact))])


def run_silver(spark: SparkSession, warehouse: str) -> None:
    """silver_transform.py equivalent: watermark from the silver
    tables, dim upsert + fact insert, stats report."""
    silver_step(spark, warehouse)

    total, earliest, latest = layer_span(spark, warehouse, "silver",
                                         "fact_power_system", "time_id")
    if not total:
        print("silver: no facts")
        return
    print(f"silver: {total} facts, {earliest} .. {latest}")


def gold_step(spark: SparkSession, warehouse: str,
              scaled: bool = False) -> bool:
    """The gold upsert: watermark from the gold table, lookback-
    extended window build, trim, idempotent insert.  Shared by
    :func:`run_gold` and the streaming micro-batch; False when
    silver holds no data yet.  A gold row's time_id is a fact row's,
    so nothing is built while the fact table's footer max is not past
    the gold watermark."""
    latest = layer_span(spark, warehouse, "silver", "fact_power_system",
                        "time_id")[2]
    if latest is None:
        return False
    wm = layer_span(spark, warehouse, "gold", "power_system_5min_avg",
                    "time_id")[2] or EPOCH
    if latest <= wm:
        return True
    fact = read_layer_table(spark, warehouse, "silver",
                            "fact_power_system", schema=FACT_SCHEMA)
    dim = read_layer_table(spark, warehouse, "silver", "dim_time",
                           schema=DIM_TIME_SCHEMA)
    gold = build_gold(fact, dim, watermark=wm, scaled=scaled)
    insert_if_absent(spark, gold, warehouse, "gold",
                     "power_system_5min_avg", keys=["time_id"], after=wm)
    return True


def run_gold(spark: SparkSession, warehouse: str,
             scaled: bool = False) -> None:
    """gold_aggr.py equivalent (:func:`gold_step`)."""
    if gold_step(spark, warehouse, scaled):
        print("gold: 5-minute moving averages updated")
    else:
        print("gold: no silver data")


def export_ml_features(spark: SparkSession, warehouse: str,
                       out_path: str, single_file: bool = True) -> None:
    """gold_aggr.py:226-255: ordered 13-column CSV export."""
    gold = read_layer_table(spark, warehouse, "gold",
                            "power_system_5min_avg", schema=GOLD_SCHEMA)
    export_csv(gold.select(*EXPORT_COLUMNS), out_path,
               order_by=["time_id"], single_file=single_file)


def run_all(spark: SparkSession, warehouse: str, source,
            csv_path: str | None = None) -> None:
    """Sequential orchestration (the reference's __main__ blocks)."""
    run_bronze(spark, warehouse, source)
    run_silver(spark, warehouse)
    run_gold(spark, warehouse)
    if csv_path:
        export_ml_features(spark, warehouse, csv_path)
