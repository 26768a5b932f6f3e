"""Steady-state streaming latency measurement (round-6 verdict #7).

The bench's streaming entries pay ~0.3s of micro-batch ENGINE
startup per execution (measured, annotated in BENCH_*.json) — but
what a RESIDENT stream's per-batch latency actually is had no
artifact.  This tool runs the two stateful streaming pipelines
resident for N >= 20 micro-batches and records the per-batch
processing-time distribution, separating the one-time engine/plan
warm-up (batch 0) from steady state:

1. the foreachBatch medallion stream
   (streaming/pipeline.py:process_batch) over a synthetic
   minute-cadence bronze feed — one day of minutes per batch at the
   base size, ten days per batch at the x10 size;
2. the incremental MinHash-LSH index maintenance stream
   (queries/streaming.py:stream_incremental_lsh_dedup) replaying
   the documents corpus as N ascending-id batches, at sf0.1 and at
   the x10 rehearsal corpus.

Prints one JSON line and writes it to /tmp/stream_latency.json; the
round's SCALE_r06.md copies the table.

Usage: python tools/stream_latency.py [n_batches]
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import sys
import tempfile
import time
from datetime import datetime, timedelta
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

N_BATCHES = int(sys.argv[1]) if len(sys.argv) > 1 else 24
X10_DIR = "/tmp/scale_r04/x10"


def gen_day_records(day0: datetime, days: float, seed: int) -> list[dict]:
    """Minute-cadence PowerSystemRightNow-shaped records covering
    ``days`` days from ``day0`` (same field set as tests/fixtures)."""
    rng = random.Random(seed)
    out = []
    for i in range(int(days * 1440)):
        ts = day0 + timedelta(minutes=i)
        hour_frac = (ts.hour + ts.minute / 60) / 24
        solar = (max(0.0, 600 * math.sin(math.pi * (hour_frac - 0.25)
                                         / 0.5))
                 if 6 <= ts.hour < 18 else 0.0)
        out.append({
            "Minutes1UTC": ts.strftime("%Y-%m-%dT%H:%M:%S"),
            "CO2Emission": round(rng.gauss(80, 20), 2),
            "ProductionGe100MW": round(max(0, rng.gauss(1500, 300)), 2),
            "ProductionLt100MW": round(max(0, rng.gauss(400, 100)), 2),
            "SolarPower": round(solar, 2),
            "OffshoreWindPower": round(max(0, rng.gauss(900, 400)), 2),
            "OnshoreWindPower": round(max(0, rng.gauss(700, 300)), 2),
            "ExchangeSum": round(rng.gauss(0, 500), 2),
            "ExchangeDK1_DE": round(rng.gauss(0, 200), 2),
            "ExchangeDK2_DE": round(rng.gauss(0, 200), 2),
            "ExchangeDK1_NL": round(rng.gauss(0, 150), 2),
            "ExchangeDK1_GB": round(rng.gauss(0, 150), 2),
            "ExchangeDK1_NO": round(rng.gauss(0, 300), 2),
            "ExchangeDK1_SE": round(rng.gauss(0, 200), 2),
            "ExchangeDK2_SE": round(rng.gauss(0, 200), 2),
            "ExchangeDK1_DK2": round(rng.gauss(0, 250), 2),
        })
    return out


def medallion_latency(spark, days_per_batch: float,
                      n_batches: int) -> list[float]:
    """Resident medallion stream: n_batches single-file bronze
    batches, foreachBatch silver+gold, per-batch wall recorded."""
    from energi_data_pipeline_spark.sources.normalize import \
        records_to_bronze
    from energi_data_pipeline_spark.queries.streaming import \
        write_replay_batch
    from energi_data_pipeline_spark.streaming.pipeline import process_batch

    wh = tempfile.mkdtemp(prefix="lat_wh_")
    ckpt = tempfile.mkdtemp(prefix="lat_ckpt_")
    bronze_dir = os.path.join(wh, "bronze", "power_system_raw")
    os.makedirs(bronze_dir)
    day0 = datetime(2025, 1, 1)
    schema = None
    for b in range(n_batches):
        recs = gen_day_records(day0 + timedelta(days=b * days_per_batch),
                               days_per_batch, seed=100 + b)
        df = records_to_bronze(spark, recs)
        schema = df.schema
        write_replay_batch(df, bronze_dir, b)

    times: list[float] = []

    def handle(batch_df, _bid):
        t0 = time.perf_counter()
        process_batch(batch_df.sparkSession, wh, batch_df)
        times.append(round(time.perf_counter() - t0, 3))

    try:
        q = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1").parquet(bronze_dir)
             .writeStream.foreachBatch(handle)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)
    return times


def lsh_latency(spark, sf_dir: str, n_batches: int) -> list[float]:
    from energi_data_pipeline_spark.queries.streaming import \
        stream_incremental_lsh_dedup

    times: list[float] = []
    stream_incremental_lsh_dedup(spark, sf_dir, n_batches=n_batches,
                                 batch_times=times)
    return times


def dist(times: list[float]) -> dict:
    if not times:
        return {}
    steady = sorted(times[1:]) or times
    q = lambda p: steady[min(len(steady) - 1,  # noqa: E731
                             int(p * len(steady)))]
    return {
        "n_batches": len(times),
        "batch0_warmup_s": times[0],
        "steady_p50_s": q(0.50),
        "steady_p90_s": q(0.90),
        "steady_max_s": steady[-1],
        "steady_mean_s": round(sum(steady) / len(steady), 3),
        "all": times,
    }


def main() -> None:
    from energi_data_pipeline_spark.session import get_spark

    spark = get_spark("stream-latency")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    result = {"metric": "steady_state_stream_latency",
              "n_batches": N_BATCHES}
    result["medallion_1day_batches"] = dist(
        medallion_latency(spark, 1.0, N_BATCHES))
    result["medallion_10day_batches_x10"] = dist(
        medallion_latency(spark, 10.0, N_BATCHES))
    result["lsh_index_sf01"] = dist(
        lsh_latency(spark, "/root/testdata/sf0.1", N_BATCHES))
    if os.path.isdir(X10_DIR):
        result["lsh_index_x10"] = dist(
            lsh_latency(spark, X10_DIR, N_BATCHES))
    spark.stop()
    payload = json.dumps(result)
    Path("/tmp/stream_latency.json").write_text(payload + "\n")
    print(payload, flush=True)
    os._exit(0)


if __name__ == "__main__":
    main()
