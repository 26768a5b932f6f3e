"""The medallion pipeline: Spark-native equivalent of the
reference's three entry points (SURVEY.md §3).

Storage model: a warehouse directory of parquet tables in
``bronze/ silver/ gold/`` layers (the reference's DuckDB schemas,
silver_transform.py:19).  Every layer is written with
``insert_if_absent`` (anti-join append = ON CONFLICT DO NOTHING) and
reads incrementally from its own destination watermark
(COALESCE(MAX(time_id), epoch)) — the reference's self-watermarking
protocol, no external state store.

Reads: every read passes a schema the engine already knows — bronze
``BRONZE_FULL_SCHEMA``, fact, dim and gold the schemas declared next
to their builders, and a destination read only for its watermark its
key column alone — so no read runs a schema-inference job.  Bronze is
ingested through Arrow (sources.normalize).

Scale: every layer table is written unpartitioned, with its time key
stored as a naive INT64 timestamp whose parquet footers carry min/max
(io.naive_timestamps).  A watermark and the silver stats line are
read from those footers, with no Spark job.  Silver reads only the
bronze files holding minutes past its watermark, and the dim, fact
and gold anti-joins only the destination files holding keys past
theirs — none in a steady increment (io.rows_after).  Gold still
scans the fact and dim tables; at the benchmark's few-file scale,
choosing their newest files measured slower than the scan.  dim_time
broadcasts; the ``scaled`` gold window runs partitioned-by-day with
warm-up replay (operators.windows).
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import (export_csv, footer_stats, insert_if_absent, key_schema,
                  max_watermark, read_layer_table, rows_after)
from ..operators.gold import EXPORT_COLUMNS, GOLD_SCHEMA, build_gold
from ..operators.silver import (DIM_TIME_SCHEMA, FACT_SCHEMA,
                                build_dim_time, build_fact)
from ..sources.normalize import BRONZE_FULL_SCHEMA, records_to_bronze
from ..sources.rest import INITIAL_CURSOR, format_cursor

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)

#: the watermark reads: a destination's key column alone
BRONZE_KEY = key_schema(BRONZE_FULL_SCHEMA, ["minutes1_utc"])
FACT_KEY = key_schema(FACT_SCHEMA, ["time_id"])
GOLD_KEY = key_schema(GOLD_SCHEMA, ["time_id"])


def _layer_io(table_format: str):
    """(read_layer_table, insert_if_absent) for the chosen storage
    format.  ``"parquet"`` (default): the rename-based layout —
    correct on any single POSIX filesystem, which is the reference's
    own scope.  ``"commitlog"``: the put-if-absent commit-log format
    (commitlog.CommitLogTable) for object-store deployments where
    atomic rename does not exist; same layer/table addressing, same
    idempotent-append semantics, plus lock-free multi-writer safety
    (r07 verdict #5)."""
    if table_format == "parquet":
        return read_layer_table, insert_if_absent
    if table_format == "commitlog":
        from .. import commitlog

        return commitlog.read_layer_table, commitlog.insert_if_absent
    raise ValueError(f"unknown table_format {table_format!r}")


def run_bronze(spark: SparkSession, warehouse: str, source,
               table_format: str = "parquet") -> int:
    """bronze_ingest.py equivalent: fetch records after the cursor,
    normalize, dedup the cursor-boundary rows, append.

    The cursor is MAX(minutes1_utc) of the bronze table itself —
    the same self-watermark silver/gold already use, which drops the
    reference's external dlt state directory entirely.
    """
    t0 = time.time()
    read_t, insert_t = _layer_io(table_format)
    bronze = read_t(spark, warehouse, "bronze", "power_system_raw",
                    schema=BRONZE_KEY)
    cursor = max_watermark(bronze, "minutes1_utc", None)
    cursor_str = format_cursor(cursor) if cursor else INITIAL_CURSOR
    records = source.fetch(cursor_str)
    df = records_to_bronze(spark, records)
    insert_t(spark, df, warehouse, "bronze", "power_system_raw",
             keys=["minutes1_utc"])
    print(f"bronze: {len(records)} records in {time.time() - t0:.2f}s")
    return len(records)


def silver_step(spark: SparkSession, warehouse: str, bronze: DataFrame,
                table_format: str = "parquet") -> None:
    """The silver upsert of ``bronze`` rows past the fact watermark:
    dim insert + fact insert.  Shared by :func:`run_silver` (all of
    bronze) and the streaming micro-batch (one batch of it)."""
    read_t, insert_t = _layer_io(table_format)
    fact_dst = read_t(spark, warehouse, "silver", "fact_power_system",
                      schema=FACT_KEY)
    wm = max_watermark(fact_dst, "time_id", EPOCH)
    bronze = rows_after(bronze, "minutes1_utc", wm)
    if bronze is None:
        return
    insert_t(spark, build_dim_time(bronze, watermark=wm), warehouse,
             "silver", "dim_time", keys=["time_id"], after=wm)
    insert_t(spark, build_fact(bronze, watermark=wm), warehouse,
             "silver", "fact_power_system", keys=["time_id"], after=wm)


def run_silver(spark: SparkSession, warehouse: str,
               table_format: str = "parquet") -> None:
    """silver_transform.py equivalent: watermark from the fact table,
    dim upsert + fact insert, stats report."""
    read_t, _ = _layer_io(table_format)
    bronze = read_t(spark, warehouse, "bronze", "power_system_raw",
                    schema=BRONZE_FULL_SCHEMA)
    if bronze is None:
        print("silver: no bronze data")
        return
    silver_step(spark, warehouse, bronze, table_format)

    fact = read_t(spark, warehouse, "silver", "fact_power_system",
                  schema=FACT_KEY)
    if fact is None:
        print("silver: no facts")
        return
    total, earliest, latest = footer_stats(fact, "time_id") or fact.agg(
        F.count(F.lit(1)), F.min("time_id"), F.max("time_id")).first()
    print(f"silver: {total} facts, {earliest} .. {latest}")


def gold_step(spark: SparkSession, warehouse: str, scaled: bool = False,
              table_format: str = "parquet") -> bool:
    """The gold upsert: watermark from the gold table, lookback-
    extended window build, trim, idempotent insert.  Shared by
    :func:`run_gold` and the streaming micro-batch; False when
    silver holds no data yet."""
    read_t, insert_t = _layer_io(table_format)
    fact = read_t(spark, warehouse, "silver", "fact_power_system",
                  schema=FACT_SCHEMA)
    dim = read_t(spark, warehouse, "silver", "dim_time",
                 schema=DIM_TIME_SCHEMA)
    if fact is None or dim is None:
        return False
    gold_dst = read_t(spark, warehouse, "gold", "power_system_5min_avg",
                      schema=GOLD_KEY)
    wm = max_watermark(gold_dst, "time_id", EPOCH)
    gold = build_gold(fact, dim, watermark=wm, scaled=scaled)
    insert_t(spark, gold, warehouse, "gold",
             "power_system_5min_avg", keys=["time_id"], after=wm)
    return True


def run_gold(spark: SparkSession, warehouse: str,
             scaled: bool = False,
             table_format: str = "parquet") -> None:
    """gold_aggr.py equivalent (:func:`gold_step`)."""
    if gold_step(spark, warehouse, scaled, table_format):
        print("gold: 5-minute moving averages updated")
    else:
        print("gold: no silver data")


def export_ml_features(spark: SparkSession, warehouse: str,
                       out_path: str, single_file: bool = True,
                       table_format: str = "parquet") -> None:
    """gold_aggr.py:226-255: ordered 13-column CSV export."""
    read_t, _ = _layer_io(table_format)
    gold = read_t(spark, warehouse, "gold", "power_system_5min_avg",
                  schema=GOLD_SCHEMA)
    export_csv(gold.select(*EXPORT_COLUMNS), out_path,
               order_by=["time_id"], single_file=single_file)


def run_all(spark: SparkSession, warehouse: str, source,
            csv_path: str | None = None,
            table_format: str = "parquet") -> None:
    """Sequential orchestration (the reference's __main__ blocks).

    ``table_format="commitlog"`` runs the whole pipeline on the
    put-if-absent commit-log format (see _layer_io)."""
    run_bronze(spark, warehouse, source, table_format=table_format)
    run_silver(spark, warehouse, table_format=table_format)
    run_gold(spark, warehouse, table_format=table_format)
    if csv_path:
        export_ml_features(spark, warehouse, csv_path,
                           table_format=table_format)
