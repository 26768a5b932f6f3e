"""Storage-layout scale patterns: bucketed co-located joins and
date-partitioned pruning (SURVEY.md §4.3).

These are write-side layouts, so they live as tests rather than
catalog queries: write the layout, then assert the PLAN uses it —
a bucketed join runs with no shuffle exchange, and a partition-
pruned scan reads only the matching partition directories.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from energi_data_pipeline_spark.io import read_table

SF = "/root/testdata/sf0.001"
N_BUCKETS = 8


def plan_str(df, mode="formatted"):
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


@pytest.fixture()
def table_names(spark):
    suffix = uuid.uuid4().hex[:8]
    names = (f"li_bkt_{suffix}", f"ord_bkt_{suffix}")
    yield names
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_bucketed_join_has_no_shuffle(spark, table_names):
    li_name, ord_name = table_names
    li = read_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice")
    orders = read_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    # both sides bucketed AND sorted on the join key -> the join
    # reads co-located buckets: no Exchange, no explicit Sort
    (li.write.bucketBy(N_BUCKETS, "l_orderkey")
     .sortBy("l_orderkey").mode("overwrite").saveAsTable(li_name))
    (orders.write.bucketBy(N_BUCKETS, "o_orderkey")
     .sortBy("o_orderkey").mode("overwrite").saveAsTable(ord_name))

    # disable auto-broadcast so the join shape is SMJ-on-buckets, the
    # layout we are asserting (broadcast would trivially skip it)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (spark.table(li_name)
                  .join(spark.table(ord_name),
                        F.col("l_orderkey") == F.col("o_orderkey"))
                  .groupBy("o_custkey")
                  .agg(F.count(F.lit(1)).alias("n")))
        p = plan_str(joined)
        assert "SortMergeJoin" in p
        # the only exchange allowed is AFTER the join (for groupBy);
        # the join inputs themselves must come straight from buckets
        assert "Exchange hashpartitioning(l_orderkey" not in p
        assert "Exchange hashpartitioning(o_orderkey" not in p

        # and the result is the plain join's result
        expected = (li.join(orders,
                            F.col("l_orderkey") == F.col("o_orderkey"))
                    .groupBy("o_custkey")
                    .agg(F.count(F.lit(1)).alias("n")))
        assert sorted((r["o_custkey"], r["n"]) for r in joined.collect()) \
            == sorted((r["o_custkey"], r["n"]) for r in expected.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_date_partitioned_write_prunes(spark, tmp_path):
    out = str(tmp_path / "events_by_day")
    ev = read_table(spark, SF, "events")
    (ev.withColumn("event_date", F.to_date("ts"))
     .write.partitionBy("event_date").mode("overwrite").parquet(out))

    df = (spark.read.parquet(out)
          .filter(F.col("event_date") == "2024-01-15"))
    p = plan_str(df)
    scan = p[p.index("Scan parquet"):]
    pf = scan[scan.index("PartitionFilters"):].splitlines()[0]
    assert "event_date" in pf  # predicate reached partition pruning
    # one day's rows only
    n_day = df.count()
    n_all = spark.read.parquet(out).count()
    assert 0 < n_day < n_all


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    # the 100 TB star-join layout: fact partitioned by the join key,
    # dim carries the selective filter — the runtime must prune fact
    # partitions from the dim-side broadcast (DPP), not scan all of
    # them and filter after the join
    out = str(tmp_path / "events_by_type")
    ev = read_table(spark, SF, "events")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)
    fact = spark.read.parquet(out)
    types = [r["event_type"] for r in
             ev.select("event_type").distinct().collect()]
    dim = spark.createDataFrame(
        [(t, float(i)) for i, t in enumerate(sorted(types))],
        "event_type string, w double").filter(F.col("w") < 1.0)
    joined = (fact.join(dim, "event_type")
              .agg(F.count(F.lit(1)).alias("n")))
    p = plan_str(joined)
    assert "dynamicpruningexpression" in p.lower()
    # the pruned plan still computes the true result
    keep = {t for i, t in enumerate(sorted(types)) if i < 1}
    expect = ev.filter(F.col("event_type").isin(*keep)).count()
    assert joined.first()["n"] == expect


def test_read_table_memo_invalidates_on_rewrite(spark, tmp_path):
    """Round-9: read_table memoizes the table DataFrame per session
    and file identity (path, mtime, size) to cut per-query plan-build
    cost.  A regenerated file (the r03 driver re-encode scenario)
    must MISS the memo and serve the new data, never a stale plan."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from energi_data_pipeline_spark.io import read_table

    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"x": pa.array([1, 2], type=pa.int64())}),
                   path)
    first = read_table(spark, str(tmp_path), "events")
    assert first.count() == 2
    # same identity -> memo hit: the same object, the same data
    assert read_table(spark, str(tmp_path), "events") is first
    time.sleep(0.01)  # ensure mtime_ns moves even on coarse clocks
    pq.write_table(pa.table({"x": pa.array([1, 2, 3],
                                           type=pa.int64())}), path)
    again = read_table(spark, str(tmp_path), "events")
    assert again is not first
    assert again.count() == 3


def test_adaptive_cache_level_gates_on_heap_budget():
    """r14 verdict #2: operator-internal materializations use
    serialized MEMORY_AND_DISK while the estimate fits the
    heap-fraction budget (cuts ~1s/query of disk round-trips at
    bench scale) and degrade to DISK_ONLY past it (the r06 rule: a
    corpus-cardinality cache must never pin executor memory)."""
    from pyspark import StorageLevel

    from energi_data_pipeline_spark.io import (CACHE_HEAP_FRACTION,
                                               adaptive_cache_level)

    heap = 8 << 30
    budget = int(heap * CACHE_HEAP_FRACTION)
    assert adaptive_cache_level(None, budget - 1, heap_bytes=heap) \
        == StorageLevel.MEMORY_AND_DISK
    assert adaptive_cache_level(None, budget + 1, heap_bytes=heap) \
        == StorageLevel.DISK_ONLY


def test_adaptive_cache_level_env_override(monkeypatch):
    from pyspark import StorageLevel

    from energi_data_pipeline_spark.io import adaptive_cache_level

    monkeypatch.setenv("SPARK_GRAFT_CACHE_BUDGET_BYTES", "1000")
    assert adaptive_cache_level(None, 1001, heap_bytes=1 << 40) \
        == StorageLevel.DISK_ONLY
    assert adaptive_cache_level(None, 999, heap_bytes=1) \
        == StorageLevel.MEMORY_AND_DISK
