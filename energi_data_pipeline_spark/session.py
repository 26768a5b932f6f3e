"""SparkSession factory + per-query runtime tuning.

The engine is designed for a real multi-executor cluster (100 TB
fact tables, 1000 executors) but is exercised on ``local[N]``.
Session-level choices that matter at scale:

* AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion based on observed sizes.
* UTC session timezone: parity with the reference's DuckDB semantics
  (naive TIMESTAMP everywhere — silver_transform.py:24).
* Arrow on: every pandas interchange (mapInPandas / applyInPandas
  extension operators) is Arrow-batched, never row-at-a-time.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

#: Conf that must hold for oracle parity and is safe to set at runtime
#: on an externally-provided session (the driver owns its session).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # 600k-row bench scale: without AQE coalescing 200 shuffle
    # partitions is pure overhead; AQE shrinks them, this is the cap.
    "spark.sql.shuffle.partitions": "32",
    # Some rounds of the driver-generated parquet stored
    # TIMESTAMP(NANOS), which the vectorized reader rejects; with this
    # set they read as int64 nanos and io.read_table floors them to
    # micro timestamps (matching DuckDB's fetch truncation).  Harmless
    # when the data is plain micros (current rounds): the conf only
    # affects nanos-annotated columns.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


#: sessions tune() has already configured — every conf.set is a py4j
#: round trip and tune() runs on EVERY table read (t() + read_table),
#: which profiled as ~10-50ms of pure driver chatter per query build
#: at sf0.1 (round 9: plan-build time was a third of the bench
#: numerator).  WeakSet so a stopped session doesn't pin its JVM
#: gateway.
_TUNED: weakref.WeakSet = weakref.WeakSet()


def tune(spark: SparkSession, force: bool = False) -> SparkSession:
    """Apply runtime-settable conf to an existing session (idempotent
    and memoized per session object — re-invocations are a set
    lookup, not 6 py4j conf.set round trips).

    The memo changes a repair behavior: pre-r09, EVERY table read
    re-asserted RUNTIME_CONF, so a code path that mutated one of
    those confs and forgot to restore it self-healed on the next
    read.  Now it doesn't — RUNTIME_CONF keys must only be mutated
    via save/restore-in-finally (the repo convention; see
    tests/test_plan_shapes.py's conf fixtures), and callers that
    legitimately mutated them can re-assert with ``force=True``."""
    try:
        if not force and spark in _TUNED:
            return spark
    except TypeError:
        pass  # not weakref-able on this build: fall through, re-set
    for k, v in RUNTIME_CONF.items():
        spark.conf.set(k, v)
    try:
        _TUNED.add(spark)
    except TypeError:
        pass
    return spark


def get_spark(app_name: str = "energi-data-pipeline-spark",
              master: str | None = None) -> SparkSession:
    """Build (or reuse) the engine session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or
    ``local[*]``) so tests and bench share one code path.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Spark's stock 10 MB: the static planner estimates a build
        # side at its COMPRESSED file size and locks in a broadcast
        # AQE cannot demote, so a generous threshold over-broadcasts
        # fact-sized sides — measured at the x10 TPC-H point
        # (SCALE_r09): a 23 MB / 1.5M-row orders side under a 64 MB
        # threshold broadcast-built in ~1.5s where the shuffle join
        # ran the whole query in 2.1s vs 3.7s.  Every sf0.1 table is
        # under 10 MB, so small-dim broadcasts are unaffected; truly
        # bounded dims (nation/region) are hinted explicitly.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # start-time conf: reliable checkpoints from iterative graph
        # loops (operators/graph.py:_truncate) are garbage-collected
        # with their RDDs instead of accumulating O(rounds x
        # edge-set) files until application exit — inert in local
        # mode (no checkpoint dir => localCheckpoint), essential on
        # a cluster deployment that configures one (review r14)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints",
                "true")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
