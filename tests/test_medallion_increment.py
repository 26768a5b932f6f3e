"""A steady-state medallion increment: its Spark job budget (none for
an idle one), its idempotency (a crash between the dim and fact
inserts included), the schemas its typed reads pass, NULL-minute
records, a ``file://`` warehouse, and the reference's lookback rule at
an increment boundary."""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import duckdb
import pytest

from energi_data_pipeline_spark.io import (key_schema, layer_span,
                                           max_watermark,
                                           parquet_row_count,
                                           read_layer_table, table_path)
from energi_data_pipeline_spark.operators.gold import (GOLD_SCHEMA,
                                                       build_gold)
from energi_data_pipeline_spark.operators.silver import (
    DIM_TIME_SCHEMA, FACT_SCHEMA, build_dim_time, build_fact)
from energi_data_pipeline_spark.pipelines import medallion
from energi_data_pipeline_spark.pipelines.medallion import (
    run_all, run_bronze, run_silver)
from energi_data_pipeline_spark.sources.normalize import BRONZE_FULL_SCHEMA
from energi_data_pipeline_spark.sources.rest import FixtureSource

from . import reference_oracle
from .fixtures import make_power_records
from .test_layer_reads import inference_jobs, job_group, local_tz
from .test_pipeline_golden import (gold_rows_duck, gold_rows_spark,
                                   rows_close)

#: the fixture's mid-span split (as in test_pipeline_golden)
T1 = datetime(2025, 11, 29, 10, 50)

#: a fact watermark read: the fact table's key column alone
FACT_KEY = key_schema(FACT_SCHEMA, ["time_id"])

TABLES = [("bronze", "power_system_raw"), ("silver", "dim_time"),
          ("silver", "fact_power_system"), ("gold", "power_system_5min_avg")]

#: jobs one steady-state increment may run: 9 measured (the bronze
#: insert 2, the dim and fact inserts 2 each, the gold insert 3; the
#: watermarks, the silver stats and the anti-join bounds read footers
#: and run none)
MAX_JOBS = 9


def upto(records, t: datetime) -> list[dict]:
    return [r for r in records if r["Minutes1UTC"]
            and datetime.fromisoformat(r["Minutes1UTC"]) <= t]


def row_counts(wh: str) -> list[int]:
    return [parquet_row_count(table_path(wh, layer, name))
            for layer, name in TABLES]


def part_files(wh: str) -> list[int]:
    return [sum(f.endswith(".parquet")
                for f in os.listdir(table_path(wh, layer, name)))
            for layer, name in TABLES]


def table_rows(wh: str) -> list[list[tuple]]:
    """Every row of the four layer tables, each table in one order."""
    con = duckdb.connect()
    return [sorted(con.execute(
        f"SELECT * FROM read_parquet('{table_path(wh, layer, name)}"
        "/*.parquet')").fetchall(), key=repr)
        for layer, name in TABLES]


class ReplaySource(FixtureSource):
    """Re-delivers every record whatever the cursor, so a rerun hands
    the whole history to the anti-joins."""

    def fetch(self, cursor) -> list[dict]:
        return super().fetch("1970-01-01T00:00")


class NullMinuteSource(FixtureSource):
    """Delivers, with the records after the cursor, every record that
    has no minute (the fixture holds one)."""

    def fetch(self, cursor) -> list[dict]:
        return super().fetch(cursor) + [
            r for r in self.records if r["Minutes1UTC"] is None]


def _plain(schema):
    return [(f.name, f.dataType) for f in schema]


def test_declared_schemas_match_builders(spark):
    bronze = spark.createDataFrame([], BRONZE_FULL_SCHEMA)
    fact, dim = build_fact(bronze), build_dim_time(bronze)
    assert _plain(fact.schema) == _plain(FACT_SCHEMA)
    assert _plain(dim.schema) == _plain(DIM_TIME_SCHEMA)
    assert _plain(build_gold(fact, dim).schema) == _plain(GOLD_SCHEMA)


def test_steady_increment_job_budget_and_idempotency(spark, tmp_path,
                                                     monkeypatch):
    records = make_power_records()
    wh = str(tmp_path / "wh")
    run_all(spark, wh, FixtureSource(upto(records, T1)))
    # no read asks Spark which files a frame scans: the listing knows
    asked = []
    frame = type(spark.range(1))
    input_files = frame.inputFiles

    def counted(df):
        asked.append(df)
        return input_files(df)
    monkeypatch.setattr(frame, "inputFiles", counted)
    with job_group(spark, "steady-increment") as jobs:
        run_all(spark, wh, FixtureSource(records))
    monkeypatch.undo()
    assert len(jobs()) <= MAX_JOBS, len(jobs())
    assert inference_jobs(jobs()) == []
    assert asked == []
    with job_group(spark, "footer-watermark") as jobs:
        wm = layer_span(spark, wh, "silver", "fact_power_system",
                        "time_id")[2]
    assert jobs() == []
    fact = read_layer_table(spark, wh, "silver", "fact_power_system",
                            schema=FACT_KEY)
    assert wm == fact.agg({"time_id": "max"}).first()[0].astimezone(
        timezone.utc)

    before = row_counts(wh)
    run_all(spark, wh, FixtureSource(records))
    assert row_counts(wh) == before
    # every key re-delivered: the anti-joins, not the cursor, keep
    # each table unchanged
    run_all(spark, wh, ReplaySource(records))
    assert row_counts(wh) == before


def test_idle_increment_runs_no_job_and_writes_nothing(spark, tmp_path):
    """An increment whose fetch brings no record submits no Spark job
    and adds no file to any layer table: bronze skips the empty
    fetch, silver finds no bronze file past its watermark, and gold
    finds no fact past its own."""
    records = make_power_records()
    wh = str(tmp_path / "wh")
    run_all(spark, wh, FixtureSource(records))
    before = part_files(wh)
    with job_group(spark, "idle-increment") as jobs:
        run_all(spark, wh, FixtureSource(records))
    assert jobs() == []
    assert part_files(wh) == before


def test_crash_between_dim_and_fact_inserts(spark, tmp_path, monkeypatch):
    """A crash after the dim insert leaves dim keys past the fact
    watermark.  The next increment's dim insert still anti-joins
    them (its footers show keys past the watermark, so it reads
    those files), and a full replay then adds no row."""
    records = make_power_records()
    wh = str(tmp_path / "wh")
    run_all(spark, wh, FixtureSource(upto(records, T1)))
    run_bronze(spark, wh, FixtureSource(records))
    insert = medallion.insert_if_absent

    def crash_at_fact(spark, df, warehouse, layer, name, **kw):
        if name == "fact_power_system":
            raise RuntimeError("crash between the dim and fact inserts")
        insert(spark, df, warehouse, layer, name, **kw)
    monkeypatch.setattr(medallion, "insert_if_absent", crash_at_fact)
    with pytest.raises(RuntimeError, match="crash"):
        run_silver(spark, wh)
    monkeypatch.undo()
    dim = read_layer_table(spark, wh, "silver", "dim_time",
                           schema=DIM_TIME_SCHEMA)
    fact = read_layer_table(spark, wh, "silver", "fact_power_system",
                            schema=FACT_KEY)
    assert max_watermark(dim, "time_id", None) \
        > max_watermark(fact, "time_id", None)

    run_all(spark, wh, FixtureSource(records))
    minutes = {r["Minutes1UTC"] for r in records if r["Minutes1UTC"]}
    after = row_counts(wh)
    assert after[:3] == [len(minutes)] * 3
    run_all(spark, wh, ReplaySource(records))
    assert row_counts(wh) == after


def test_null_minute_records_are_kept_per_increment(spark, tmp_path):
    """The bronze insert keeps one NULL-minute row per batch: a NULL
    key clashes with nothing.  Its anti-join, bounded by the batch's
    first minute, neither drops nor repeats a keyed row, and silver
    leaves the NULL rows out."""
    records = make_power_records()
    nulls = [r for r in records if r["Minutes1UTC"] is None]
    assert nulls
    wh = str(tmp_path / "wh")
    run_all(spark, wh, NullMinuteSource(upto(records, T1) + nulls))
    run_all(spark, wh, NullMinuteSource(records))
    got = duckdb.sql(
        "SELECT minutes1_utc, co2_emission FROM read_parquet("
        f"'{table_path(wh, 'bronze', 'power_system_raw')}/*.parquet')"
    ).fetchall()
    want = [(datetime.fromisoformat(r["Minutes1UTC"]), r["CO2Emission"])
            for r in records if r["Minutes1UTC"]]
    want += [(None, nulls[0]["CO2Emission"])] * 2
    assert sorted(got, key=repr) == sorted(want, key=repr)
    assert row_counts(wh)[1:3] == [len(want) - 2] * 2


def test_uri_warehouse_matches_plain_path(spark, tmp_path):
    """A ``file://`` warehouse is listed by Spark's Hadoop FileSystem
    and its footers read on the driver: two increments write the
    tables the same run writes on the plain path, and a replay of
    every record appends nothing."""
    records = make_power_records()
    plain, uri = tmp_path / "plain", tmp_path / "uri"
    for wh in (str(plain), uri.as_uri()):
        run_all(spark, wh, FixtureSource(upto(records, T1)))
        run_all(spark, wh, FixtureSource(records))
    before = table_rows(str(uri))
    assert before == table_rows(str(plain))
    assert all(before)
    run_all(spark, uri.as_uri(), ReplaySource(records))
    assert table_rows(str(uri)) == before


def test_increments_ingest_every_record_in_any_local_zone(spark, tmp_path):
    """The bronze cursor names the UTC minute of the last stored row
    whatever the local time zone of the driver process: on a host in
    Copenhagen (UTC+1/+2) two increments still ingest every record,
    and every table ends equal to the same run on a UTC host."""
    records = make_power_records()
    minutes = {r["Minutes1UTC"] for r in records if r["Minutes1UTC"]}
    whs = {}
    for tz in ("UTC", "Europe/Copenhagen"):
        whs[tz] = str(tmp_path / tz.replace("/", "_"))
        with local_tz(tz):
            run_all(spark, whs[tz], FixtureSource(upto(records, T1)))
            run_all(spark, whs[tz], FixtureSource(records))
    cph = row_counts(whs["Europe/Copenhagen"])
    assert cph[0] == len(minutes)
    assert cph == row_counts(whs["UTC"])
    assert gold_rows_spark(spark, whs["Europe/Copenhagen"]) \
        == gold_rows_spark(spark, whs["UTC"])


def test_lookback_gap_at_boundary_matches_reference(spark, tmp_path):
    """A feed gap inside the 4 minutes before an increment boundary:
    the 4-minute lookback then re-reads fewer than 4 rows, so the
    first rows of the increment average over a shorter frame than a
    full rebuild would.  That is the reference's own rule
    (gold_aggr.py:98,219), so the engine's incremental gold must equal
    the oracle's incremental gold — and both differ from a full
    rebuild."""
    gap = T1 - timedelta(minutes=2)
    records = [r for r in make_power_records()
               if r["Minutes1UTC"] is None
               or datetime.fromisoformat(r["Minutes1UTC"]) != gap]
    present = {datetime.fromisoformat(r["Minutes1UTC"])
               for r in records if r["Minutes1UTC"]}
    assert T1 in present and T1 + timedelta(minutes=1) in present

    wh = str(tmp_path / "wh_inc")
    run_all(spark, wh, FixtureSource(upto(records, T1)))
    run_all(spark, wh, FixtureSource(records))

    bronze_path = f"{wh}/bronze/power_system_raw"
    con = reference_oracle.connect(bronze_path)
    reference_oracle.set_bronze_view(con, bronze_path, upto=T1)
    reference_oracle.run_silver(con)
    reference_oracle.run_gold(con)
    reference_oracle.set_bronze_view(con, bronze_path)
    reference_oracle.run_silver(con)
    reference_oracle.run_gold(con)

    wh_full = str(tmp_path / "wh_full")
    run_all(spark, wh_full, FixtureSource(records))

    inc = gold_rows_spark(spark, wh)
    assert rows_close(inc, gold_rows_duck(con))
    full = gold_rows_spark(spark, wh_full)
    assert len(inc) == len(full)
    differ = [a[0] for a, b in zip(inc, full) if not rows_close([a], [b])]
    assert differ and min(differ) == T1 + timedelta(minutes=1)

