"""Streaming medallion: the reference pipeline as a real stream.

SURVEY.md §2 closes with the observation that the reference *is* a
micro-batch stream: bronze = offset-tracked source, silver =
stateless incremental transform, gold = sliding window with a
warm-up/lateness protocol.  This module runs exactly that shape on
Structured Streaming:

    readStream(bronze dir)
      -> foreachBatch( silver builders + gold window + upsert )

``foreachBatch`` runs the *batch* pipeline's own silver and gold
steps (pipelines.medallion) — one set of semantics and of typed
reads, two execution modes — and the checkpoint directory replaces
the reference's dlt state dir.  The
4-minute warm-up lookback (gold_aggr.py:98) is the batch-side
equivalent of ``withWatermark("time_id", "4 minutes")``; inside
foreachBatch we keep the reference's literal two-predicate protocol
so results are bit-identical with the batch pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import table_path
from ..pipelines.medallion import gold_step, silver_step
from ..sources.normalize import BRONZE_FULL_SCHEMA


def process_batch(spark: SparkSession, warehouse: str,
                  bronze_batch: DataFrame) -> None:
    """One micro-batch: the batch pipeline's silver step over the
    batch, then its gold step.

    Watermarks still come from the destination tables, so replays
    (checkpoint recovery) are idempotent — the anti-join drops rows
    a half-finished previous batch already wrote.
    """
    silver_step(spark, warehouse, bronze_batch)
    gold_step(spark, warehouse)


def run_streaming(spark: SparkSession, warehouse: str,
                  checkpoint_dir: str, available_now: bool = True):
    """Stream the bronze directory into silver/gold.

    ``available_now=True`` drains everything currently on disk and
    stops (test mode); ``False`` runs continuously, picking up new
    bronze files as the ingest lands them.
    """
    bronze_path = table_path(warehouse, "bronze", "power_system_raw")
    stream = spark.readStream.schema(BRONZE_FULL_SCHEMA).parquet(bronze_path)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(batch_df.sparkSession, warehouse, batch_df)

    writer = (stream.writeStream.foreachBatch(handle)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
    return query
