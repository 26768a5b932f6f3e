"""Golden pipeline tests (SURVEY.md §5.2-5.3): the Spark medallion
pipeline vs a DuckDB oracle replaying the reference's semantics,
full-history and incremental, plus the streaming variant."""

from __future__ import annotations

import math
from datetime import datetime

import pytest

from energi_data_pipeline_spark.pipelines.medallion import (
    export_ml_features, run_all, run_bronze, run_gold, run_silver)
from energi_data_pipeline_spark.sources.rest import FixtureSource
from energi_data_pipeline_spark.streaming.pipeline import run_streaming

from . import reference_oracle
from .fixtures import make_power_records

def contiguous_split(records, after: datetime) -> datetime:
    """First timestamp past ``after`` whose 4 preceding minutes all
    exist — the condition under which the reference's 4-minute
    lookback exactly re-warms the 5-row frame (SURVEY §4.2.1)."""
    from datetime import timedelta

    present = {datetime.fromisoformat(r["Minutes1UTC"])
               for r in records if r["Minutes1UTC"]}
    for ts in sorted(present):
        if ts > after and all(
                ts - timedelta(minutes=k) in present for k in range(1, 5)):
            return ts
    raise AssertionError("no contiguous split point in fixture")


#: mid-fixture split point (validated contiguous in the tests)
T1 = datetime(2025, 11, 29, 10, 50)

GOLD_SORT = "SELECT * FROM {} ORDER BY time_id"


def rows_close(a, b, rel_tol=1e-9, abs_tol=1e-9) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if not math.isclose(va, vb, rel_tol=rel_tol,
                                    abs_tol=abs_tol):
                    return False
            elif va != vb:
                return False
    return True


def gold_rows_duck(con):
    return con.execute(
        GOLD_SORT.format("power_system_5min_avg")).fetchall()


def gold_rows_spark(spark, warehouse):
    import duckdb

    # read the Spark-written parquet back through DuckDB so both
    # sides surface values through the same client
    con = duckdb.connect()
    return con.execute(GOLD_SORT.format(
        f"read_parquet('{warehouse}/gold/power_system_5min_avg/*.parquet')"
    )).fetchall()


@pytest.fixture()
def records():
    return make_power_records()


def test_full_pipeline_matches_reference_oracle(spark, tmp_path, records):
    wh = str(tmp_path / "wh")
    run_all(spark, wh, FixtureSource(records))

    con = reference_oracle.connect(f"{wh}/bronze/power_system_raw")
    reference_oracle.run_silver(con)
    reference_oracle.run_gold(con)

    mine = gold_rows_spark(spark, wh)
    oracle = gold_rows_duck(con)
    assert len(mine) > 300
    first_diff = next((pair for pair in zip(mine, oracle)
                       if not rows_close([pair[0]], [pair[1]])), None)
    assert rows_close(mine, oracle), (
        f"gold mismatch: {len(mine)} vs {len(oracle)} rows; "
        f"first diff {first_diff}")


def test_incremental_equals_oracle_incremental(spark, tmp_path, records):
    """Two-phase incremental run == oracle two-phase run — including
    the reference's warm-up boundary semantics (gold_aggr.py:98,219)."""
    early = [r for r in records
             if r["Minutes1UTC"] and
             datetime.fromisoformat(r["Minutes1UTC"]) <= T1]
    wh = str(tmp_path / "wh")
    run_all(spark, wh, FixtureSource(early))
    run_all(spark, wh, FixtureSource(records))  # incremental second run

    bronze_path = f"{wh}/bronze/power_system_raw"
    con = reference_oracle.connect(bronze_path)
    # oracle phase 1: only early rows visible
    reference_oracle.set_bronze_view(con, bronze_path, upto=T1)
    reference_oracle.run_silver(con)
    reference_oracle.run_gold(con)
    # oracle phase 2: everything
    reference_oracle.set_bronze_view(con, bronze_path)
    reference_oracle.run_silver(con)
    reference_oracle.run_gold(con)

    assert rows_close(gold_rows_spark(spark, wh), gold_rows_duck(con))


def test_incremental_equals_full_at_contiguous_boundary(
        spark, tmp_path, records):
    """SURVEY §5.3 invariant: split at a gap-free minute boundary,
    incremental == full-history (the 4-minute lookback fully
    re-warms the 5-row frame)."""
    t1 = contiguous_split(records, datetime(2025, 11, 29, 10, 30))
    early = [r for r in records
             if r["Minutes1UTC"] and
             datetime.fromisoformat(r["Minutes1UTC"]) <= t1]
    wh_inc = str(tmp_path / "wh_inc")
    run_all(spark, wh_inc, FixtureSource(early))
    run_all(spark, wh_inc, FixtureSource(records))

    wh_full = str(tmp_path / "wh_full")
    run_all(spark, wh_full, FixtureSource(records))

    inc, full = (gold_rows_spark(spark, wh_inc),
                 gold_rows_spark(spark, wh_full))
    # the incremental run may lack warm-up completeness only if T1
    # sits in a gap; T1 is chosen contiguous, so exact equality
    assert rows_close(inc, full)


def test_streaming_matches_batch(spark, tmp_path, records):
    wh_b = str(tmp_path / "wh_batch")
    run_all(spark, wh_b, FixtureSource(records))

    wh_s = str(tmp_path / "wh_stream")
    run_bronze(spark, wh_s, FixtureSource(records))
    run_streaming(spark, wh_s, str(tmp_path / "ckpt"))

    assert rows_close(gold_rows_spark(spark, wh_s),
                      gold_rows_spark(spark, wh_b))


def test_scaled_gold_equals_global_window(spark, tmp_path, records):
    """The partitioned-by-day warm-up-replay window (100 TB path)
    must equal the reference's global window bit-for-bit."""
    wh1 = str(tmp_path / "wh_g")
    run_bronze(spark, wh1, FixtureSource(records))
    run_silver(spark, wh1)
    run_gold(spark, wh1, scaled=False)

    wh2 = str(tmp_path / "wh_s")
    run_bronze(spark, wh2, FixtureSource(records))
    run_silver(spark, wh2)
    run_gold(spark, wh2, scaled=True)

    assert rows_close(gold_rows_spark(spark, wh1),
                      gold_rows_spark(spark, wh2), rel_tol=0.0,
                      abs_tol=0.0)


def test_csv_export(spark, tmp_path, records):
    import csv
    import glob

    wh = str(tmp_path / "wh")
    run_all(spark, wh, FixtureSource(records))
    out = str(tmp_path / "ml_features")
    export_ml_features(spark, wh, out)
    files = glob.glob(f"{out}/*.csv")
    assert len(files) == 1  # coalesce(1) single-file parity
    with open(files[0]) as fh:
        rows = list(csv.reader(fh))
    assert rows[0][0] == "time_id" and len(rows[0]) == 14
    assert len(rows) > 300
    ts = [r[0] for r in rows[1:]]
    assert ts == sorted(ts)  # ORDER BY time_id (gold_aggr.py:252)
