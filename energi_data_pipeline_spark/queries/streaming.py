"""Structured Streaming parity query.

The reference pipeline *is* a micro-batch stream (SURVEY.md §2,
"streaming reading"): bronze = offset-tracked source, silver =
stateless incremental transform, gold = sliding window with warm-up.
``energi_data_pipeline_spark.streaming`` holds the foreachBatch
medallion; this query demonstrates the native streaming operator —
a tumbling-window aggregation executed by the Structured Streaming
engine (Trigger.AvailableNow over the events parquet) whose result
is still deterministic, so it gets a full DuckDB oracle.
"""

from __future__ import annotations

import fnmatch
import os
import shutil
import tempfile
import uuid

from pyspark.sql import functions as F

from ..io import (_footer_schema, broadcast_within_budget, read_table,
                  spread as _io_spread)
from ..session import tune
from . import query, register_oracle_knee


def _stateful_shuffle_partitions(spark, input_path: str) -> str:
    """State-store partition count sized to input volume.

    Each stateful-stream partition pays a state-store open/commit per
    micro-batch, so 32 partitions over a 2 MB test table is ~6x pure
    overhead (measured); a 100 TB stream wants hundreds.  One
    partition per 128 MB of input, floor 4 — returns the PREVIOUS
    setting so callers can restore it."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if os.path.isdir(input_path):
        n_bytes = sum(f.stat().st_size
                      for f in os.scandir(input_path) if f.is_file())
    else:
        n_bytes = os.path.getsize(input_path)
    parts = max(4, n_bytes // (128 << 20) + 4)
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    return prev

def _with_event_time(df, ltz: bool = False):
    """``ts`` as a proper event-time column whether the parquet
    stored TIMESTAMP(NANOS) (surfaced by Spark as int64 nanos —
    floored to microseconds, the same truncation DuckDB applies) or
    a native micros/NTZ timestamp (pass-through untouched).  The
    driver's synthetic data has used both encodings across rounds.

    ``ltz=True`` additionally casts TIMESTAMP_NTZ to TIMESTAMP:
    ``withWatermark`` demands an instant-typed event time
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).  ``tune()`` pins the
    session zone to UTC, so the cast preserves wall-clock values
    and the collected results still match the naive oracle."""
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if ltz and dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def write_replay_batch(df, src_dir: str, b: int) -> None:
    """Write ``df`` as the ``b``-th batch of a file-source replay:
    one parquet file in ``src_dir`` whose mtime orders it after
    batches ``0..b-1``.  The file source delivers files in mtime
    order, so with ``maxFilesPerTrigger=1`` on the reader each file
    is one micro-batch, in ascending ``b``."""
    stage = tempfile.mkdtemp(prefix="replay_stage_")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage)
                    if f.endswith(".parquet"))
        dst = os.path.join(src_dir, f"batch{b:04d}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        mtime = 1_700_000_000 + 100 * b
        os.utime(dst, (mtime, mtime))
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _sliced_events_src(spark, sf_dir: str, n_batches: int) -> str:
    """Ascending-ts single-file slices of ``events.parquet`` in a
    fresh temp dir (caller removes it): the replay source for the
    resident-stream amortization shape of the state-engine entries
    (r13 verdict #4).  Time-contiguous slices delivered in mtime
    order mean NO cross-batch late data, so watermark eviction drops
    nothing and the N-batch replay provably emits the same rows as
    the one-trigger run — the only thing that changes is how many
    micro-batches the engine schedules."""
    from pyspark.sql import Window

    src = tempfile.mkdtemp(prefix="events_slices_")
    try:
        path = os.path.join(sf_dir, "events.parquet")
        d = spark.read.schema(_footer_schema(spark, path)).parquet(path)
        # materialize the ntile assignment ONCE: the global sort is
        # the dominant slicing cost, and without the checkpoint each
        # per-slice write would re-execute it (review r14)
        dn = d.withColumn(
            "_b", F.ntile(n_batches).over(
                Window.orderBy("ts", "event_id"))) \
            .localCheckpoint(eager=True)
        for b in range(n_batches):
            write_replay_batch(dn.filter(F.col("_b") == b + 1).drop("_b"),
                               src, b)
        dn.unpersist()
        return src
    except BaseException:
        shutil.rmtree(src, ignore_errors=True)
        raise


STREAM_SQL = """
SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_start,
       event_type,
       ROUND(AVG(value), 6) AS avg_value,
       COUNT(*) AS n_events
FROM events
GROUP BY time_bucket(INTERVAL '5 minutes', ts), event_type
"""


@query("stream_tumbling_window", STREAM_SQL)
def stream_tumbling_window(spark, sf_dir):
    """5-minute tumbling-window avg per event_type, run as a real
    Structured Streaming query (readStream -> window agg -> memory
    sink, Trigger.AvailableNow).  Epoch-aligned windows match
    DuckDB's time_bucket.  At scale the same plan runs unbounded
    with ``withWatermark`` bounding the state store."""
    tune(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = _footer_schema(spark, path)
    sink = f"stream_tumbling_{uuid.uuid4().hex[:8]}"
    agged = (
        # file stream sources take a directory + glob, not a file
        _with_event_time(
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.round(F.avg("value"), 6).alias("avg_value"),
             F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("bucket_start"), "event_type",
                "avg_value", "n_events")
    )
    prev = _stateful_shuffle_partitions(spark, path)
    try:
        q = (agged.writeStream.format("memory").queryName(sink)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)


# ------------------------------------------- stateful sessionization
#: gap that closes a session; ~median inter-event spacing is ~7h in
#: the synthetic events table, so 6h yields a mix of merged/split.
SESSION_GAP_MIN = 360

SESSIONIZE_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTES
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_no
"""


@query("stream_sessionization", SESSIONIZE_SQL)
def stream_sessionization(spark, sf_dir):
    """Gap-based sessionization as a CUSTOM STATEFUL streaming
    operator: ``groupBy(user_id).applyInPandasWithState`` — the
    Arrow-batched escape hatch for semantics Spark's built-in
    windows can't express (a session closes after {SESSION_GAP_MIN}
    minutes of per-user silence).

    State (open session: last_ts, number, start, count, previous
    session's end) is carried per user across micro-batches, so
    numbering continues seamlessly when the stream runs unbounded.
    Late data is ENFORCED, not assumed away: events are re-sorted
    within each micro-batch, and cross-batch late arrivals are
    repaired exactly when repair is provably correct (the late event
    joins the still-open session without bridging into an
    already-emitted one); an unrepairable late event raises instead
    of silently corrupting session numbering
    (tests/test_streaming_state.py exercises all three paths).
    Under Trigger.AvailableNow every session (closed + the
    still-open tail per user) is emitted, which is exactly the
    batch/oracle semantics.  At 100 TB user_id is the shuffle key
    and state is per-user-constant — the state store holds one small
    tuple per active user, not per event."""
    return run_sessionize_stream(spark, sf_dir)


def run_sessionize_stream(spark, src_dir, glob="events.parquet",
                          max_files_per_trigger=None, checkpoint=None):
    """Build + drain the sessionization stream; see
    :func:`stream_sessionization`.  ``max_files_per_trigger`` forces
    multiple micro-batches under Trigger.AvailableNow (state-carry
    testing); ``checkpoint`` pins the offset/state directory."""
    tune(spark)
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    schema = _footer_schema(spark, os.path.join(
        src_dir, min(fnmatch.filter(os.listdir(src_dir), glob))))
    sink = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    events = (
        _with_event_time(reader.parquet(src_dir))
        .select("user_id", "ts")
    )
    gap = pd.Timedelta(minutes=SESSION_GAP_MIN)

    def sessionize(key, pdfs, state):
        # within-batch out-of-order arrival is fully handled by the
        # sort; cross-batch lateness is handled below
        df = pd.concat(list(pdfs)).sort_values("ts")
        if state.exists:
            last_ts, sno, sstart, n_carried, prev_end = state.get
            last_ts, sstart = pd.Timestamp(last_ts), pd.Timestamp(sstart)
            prev_end = None if prev_end is None else pd.Timestamp(prev_end)
        else:
            last_ts, sno, sstart, n_carried, prev_end = \
                None, 0, None, 0, None
        late_any = False
        if last_ts is not None:
            late = df["ts"] <= last_ts
            if late.any():
                late_any = True
                # A late event is REPAIRABLE iff it joins the still-
                # open session: inside its span, or chaining onto its
                # start within the gap — without also bridging into
                # the previous (already closed and emitted) session.
                lates = df.loc[late, "ts"]
                before = lates[lates < sstart].sort_values()
                if len(before):
                    chain = list(before) + [sstart]
                    diffs_ok = all(
                        b - a <= gap for a, b in zip(chain, chain[1:]))
                    bridges = (prev_end is not None
                               and before.iloc[0] - prev_end <= gap)
                    if not diffs_ok or bridges:
                        raise ValueError(
                            f"sessionization: late event at "
                            f"{before.iloc[0]} for user {key[0]} cannot "
                            f"be merged into the open session (would "
                            f"renumber already-emitted sessions); "
                            f"increase upstream reordering or route "
                            f"late data to the batch backfill path")
                    sstart = before.iloc[0]
                n_carried += int(late.sum())
                df = df[~late]
        if not len(df):
            # batch held only repaired late events: re-emit the open
            # session with its corrected start/count, keep state
            out = pd.DataFrame({
                "user_id": [key[0]], "session_no": [sno],
                "session_start": [sstart], "session_end": [last_ts],
                "n_events": [n_carried]})
            state.update((last_ts.to_pydatetime(), int(sno),
                          sstart.to_pydatetime(), int(n_carried),
                          None if prev_end is None
                          else prev_end.to_pydatetime()))
            yield out
            return
        prev = df["ts"].shift(1)
        if last_ts is not None:
            prev.iloc[0] = last_ts
        new_sess = prev.isna() | ((df["ts"] - prev) > gap)
        df = df.assign(session_no=new_sess.cumsum().astype("int64") + sno)
        out = (df.groupby("session_no", as_index=False)
               .agg(session_start=("ts", "min"),
                    session_end=("ts", "max"),
                    n_events=("ts", "size")))
        # splice the carried open session into its continuation
        if last_ts is not None and not new_sess.iloc[0]:
            out.loc[out["session_no"] == sno, "n_events"] += n_carried
            out.loc[out["session_no"] == sno, "session_start"] = sstart
        elif last_ts is not None and late_any:
            # the open session absorbed repaired late events and then
            # closed in this batch — re-emit its corrected final row
            out = pd.concat([pd.DataFrame([{
                "session_no": sno, "session_start": sstart,
                "session_end": last_ts, "n_events": n_carried}]),
                out], ignore_index=True)
        out.insert(0, "user_id", key[0])
        tail = out.iloc[-1]
        if len(out) >= 2:
            new_prev_end = out.iloc[-2]["session_end"]
        elif last_ts is not None and new_sess.iloc[0]:
            new_prev_end = last_ts  # the carried session just closed
        else:
            new_prev_end = prev_end
        state.update((
            df["ts"].iloc[-1].to_pydatetime(),
            int(tail["session_no"]),
            tail["session_start"].to_pydatetime(),
            int(tail["n_events"]),
            None if new_prev_end is None
            else pd.Timestamp(new_prev_end).to_pydatetime(),
        ))
        yield out

    sessions = events.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=("user_id bigint, session_no bigint, "
                          "session_start timestamp, "
                          "session_end timestamp, n_events bigint"),
        stateStructType=("last_ts timestamp, session_no bigint, "
                         "session_start timestamp, n_events bigint, "
                         "prev_end timestamp"),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    prev = _stateful_shuffle_partitions(spark, src_dir)
    try:
        writer = (sessions.writeStream.format("memory").queryName(sink)
                  .outputMode("update"))
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)


# ------------------------------------------- batch sessionization
@query("sessionization_batch", SESSIONIZE_SQL)
def sessionization_batch(spark, sf_dir):
    """The batch twin of :func:`stream_sessionization`: identical
    gap-session semantics as pure window functions (lag -> new-session
    flag -> running-sum numbering -> group) — no state store, no
    checkpoint.  This is the plan to run for bounded/backfill inputs;
    the streaming variant exists for unbounded feeds, and
    tests/test_streaming_state.py proves they agree.  Per-user windows
    shuffle once on user_id and parallelize across users — the
    100 TB-safe grain (millions of users, short per-user series)."""
    tune(spark)
    from pyspark.sql import Window
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    # unix_timestamp works for both TIMESTAMP and TIMESTAMP_NTZ
    # (cast-to-long rejects NTZ), same whole-second truncation
    gap_ok = (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
              ) > SESSION_GAP_MIN * 60
    flagged = ev.withColumn(
        "new_sess",
        F.when(F.lag("ts").over(w).isNull() | gap_ok, 1).otherwise(0))
    numbered = flagged.withColumn(
        "session_no",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"))
    return (
        numbered.groupBy("user_id", "session_no")
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count(F.lit(1)).alias("n_events"))
    )


# --------------------------------------------------- sliding window
SLIDING_SQL = """
WITH cand AS (
  SELECT event_type, value, ts,
         unnest([time_bucket(INTERVAL '5 minutes', ts),
                 time_bucket(INTERVAL '5 minutes', ts)
                   - INTERVAL 5 MINUTES]) AS w_start
  FROM events)
SELECT w_start AS bucket_start, event_type,
       ROUND(AVG(value), 6) AS avg_value,
       COUNT(*) AS n_events
FROM cand
WHERE ts >= w_start AND ts < w_start + INTERVAL 10 MINUTES
GROUP BY w_start, event_type
"""


@query("stream_sliding_window", SLIDING_SQL)
def stream_sliding_window(spark, sf_dir):
    """10-minute windows sliding every 5: each event belongs to two
    overlapping windows (``F.window(ts, "10 minutes", "5 minutes")``),
    run by the Structured Streaming engine.  The oracle replicates
    the overlap by unnesting each event into its two candidate
    window starts.  The state store holds one row per (window, type)
    — at scale ``withWatermark`` bounds it by evicting windows older
    than the allowed lateness."""
    tune(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = _footer_schema(spark, path)
    sink = f"stream_sliding_{uuid.uuid4().hex[:8]}"
    agged = (
        _with_event_time(
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"),
                 "event_type")
        .agg(F.round(F.avg("value"), 6).alias("avg_value"),
             F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("bucket_start"), "event_type",
                "avg_value", "n_events")
    )
    prev = _stateful_shuffle_partitions(spark, path)
    try:
        q = (agged.writeStream.format("memory").queryName(sink)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)


# ----------------------------------------------- stream-static join
STREAM_STATIC_SQL = """
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       ROUND(AVG(e.value), 6) AS avg_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query("stream_static_join", STREAM_STATIC_SQL)
def stream_static_join(spark, sf_dir):
    """Stream-static enrichment: the event stream joins a static
    customer dimension (no state store for the join) before a
    windowless global aggregation.  The dim is SF-proportional and
    would be re-broadcast every micro-batch, so the join is unhinted:
    the static planner (AQE is off in stateful streaming) broadcasts
    it per batch while its file-size estimate fits the
    autoBroadcastJoinThreshold and falls back to a shuffle join
    beyond that, instead of OOMing on a hardcoded hint.  This is the
    standard
    dimension-enrichment shape: the static side is re-read per
    micro-batch, so a slowly-changing dim picks up updates without
    restarting the stream."""
    tune(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = _footer_schema(spark, path)
    sink = f"stream_static_{uuid.uuid4().hex[:8]}"
    customer = read_table(spark, sf_dir, "customer") \
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    agged = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(sf_dir)
        .join(customer, "user_id")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.avg("value"), 6).alias("avg_value"))
    )
    prev = _stateful_shuffle_partitions(spark, path)
    try:
        q = (agged.writeStream.format("memory").queryName(sink)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)


# ------------------------------------------ watermarked stream dedup
STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, date_trunc('minute', ts) AS minute
FROM events
"""


@query("stream_dedup_watermark", STREAM_DEDUP_SQL)
def stream_dedup_watermark(spark, sf_dir):
    """Streaming exact dedup with BOUNDED state:
    ``withWatermark("ts", ...) + dropDuplicatesWithinWatermark`` on
    (user_id, minute).  Plain ``dropDuplicates`` on an unbounded
    stream grows state forever; the watermark variant evicts keys
    older than the allowed lateness, so state is proportional to the
    lateness window, not the stream history — the only shape that
    survives an unbounded 100 TB feed.  Under Trigger.AvailableNow
    the full input fits one micro-batch, so the result equals batch
    DISTINCT and stays oracle-checkable."""
    tune(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = _footer_schema(spark, path)
    sink = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    deduped = (
        _with_event_time(
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet").parquet(sf_dir),
            ltz=True)
        .withColumn("minute", F.date_trunc("minute", F.col("ts")))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "minute"])
        .select("user_id", "minute")
    )
    prev = _stateful_shuffle_partitions(spark, path)
    try:
        q = (deduped.writeStream.format("memory").queryName(sink)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)


# -------------------------------------------- stream-stream join
SS_JOIN_SQL = """
SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
FROM events c JOIN events p ON c.user_id = p.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


@query("stream_stream_join", SS_JOIN_SQL)
def stream_stream_join(spark, sf_dir, n_batches: int = 1):
    """STREAM-STREAM inner join: clicks matched to same-user purchases
    within the following hour.  Both sides carry a watermark and the
    join condition bounds event time, so Spark can size and EVICT the
    join state — without the time bound an unbounded stream would
    buffer both streams forever.  At 100 TB user_id is the state key
    and each side holds at most one lateness-window of events.  Under
    Trigger.AvailableNow the result equals the batch range join, so
    it stays oracle-checkable.

    ``n_batches > 1`` replays the corpus as that many ascending-ts
    micro-batches through ONE engine start (the resident-stream
    amortization shape, r13 verdict #4); time-ordered slices mean no
    late data, so the emitted rows are identical — an eviction-safe
    claim, not an assumption: a batch-k click is only evicted once
    the watermark (max ts of batch k minus 1h) passes click_ts + 1h,
    and any batch-k+1 purchase within the join window implies
    click_ts >= that watermark, so no still-matchable click is ever
    dropped."""
    tune(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = _footer_schema(spark, path)
    sink = f"stream_ssjoin_{uuid.uuid4().hex[:8]}"
    src_dir, glob = sf_dir, "events.parquet"
    try:  # rmtree in finally: no leak window after slicing
        if n_batches > 1:
            src_dir, glob = _sliced_events_src(
                spark, sf_dir, n_batches), "*.parquet"

        def side(event_type, ts_alias, user_alias):
            reader = spark.readStream.schema(schema) \
                .option("pathGlobFilter", glob)
            if n_batches > 1:
                reader = reader.option("maxFilesPerTrigger", "1")
            return (
                _with_event_time(reader.parquet(src_dir), ltz=True)
                .filter(F.col("event_type") == event_type)
                .select(F.col("user_id").alias(user_alias),
                        F.col("ts").alias(ts_alias))
                .withWatermark(ts_alias, "1 hour"))

        clicks = side("click", "click_ts", "user_id")
        purchases = side("purchase", "purchase_ts", "p_user_id")
        joined = (
            clicks.join(
                purchases,
                (F.col("user_id") == F.col("p_user_id"))
                & (F.col("purchase_ts") >= F.col("click_ts"))
                & (F.col("purchase_ts")
                   <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")))
            .select("user_id", "click_ts", "purchase_ts"))
        prev = _stateful_shuffle_partitions(spark, path)
        try:
            q = (joined.writeStream.format("memory").queryName(sink)
                 .outputMode("append").trigger(availableNow=True)
                 .start())
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    finally:
        if src_dir != sf_dir:
            shutil.rmtree(src_dir, ignore_errors=True)
    return spark.table(sink)


# ------------------------------------------- top-k per window
TOPK_PER_WIN = 3

TOPK_WIN_SQL = f"""
WITH agg AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_start,
         event_type,
         COUNT(*) AS n_events,
         ROUND(AVG(value), 6) AS avg_value
  FROM events
  GROUP BY time_bucket(INTERVAL '5 minutes', ts), event_type)
SELECT bucket_start, event_type, n_events, avg_value,
       CAST(ROW_NUMBER() OVER (PARTITION BY bucket_start
                               ORDER BY n_events DESC, event_type)
            AS INTEGER) AS rank
FROM agg
QUALIFY rank <= {TOPK_PER_WIN}
"""


@query("stream_topk_per_window", TOPK_WIN_SQL)
def stream_topk_per_window(spark, sf_dir):
    """Streaming top-k: the busiest {TOPK_PER_WIN} event types per
    5-minute window.  Ranking is not allowed inside a streaming
    aggregation (no windows-over-aggregates in update plans), so
    this runs the standard two-stage shape: the Structured
    Streaming engine maintains the per-(window, type) counts
    incrementally (the state the stream owns), and the rank is a
    window function over the SINK table — in production the rank
    runs in the serving query or a foreachBatch epilogue, both
    dimension-sized.  State and shuffle scale with windows x types,
    never with the event volume."""
    tune(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = _footer_schema(spark, path)
    sink = f"stream_topk_{uuid.uuid4().hex[:8]}"
    agged = (
        _with_event_time(
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.avg("value"), 6).alias("avg_value"))
        .select(F.col("w.start").alias("bucket_start"), "event_type",
                "n_events", "avg_value")
    )
    prev = _stateful_shuffle_partitions(spark, path)
    try:
        q = (agged.writeStream.format("memory").queryName(sink)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    from pyspark.sql import Window
    w = Window.partitionBy("bucket_start").orderBy(
        F.col("n_events").desc(), "event_type")
    return (spark.table(sink)
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= TOPK_PER_WIN))


# ------------------------------------- latest-state table (upsert)
LATEST_STATE_SQL = """
WITH ranked AS (
  SELECT user_id, event_type, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, event_type, ts AS last_ts, event_id AS last_event_id,
       value AS last_value
FROM ranked WHERE rn = 1
"""


def _merge_latest_rows(existing, batch_latest, w):
    """Merge a micro-batch's per-key winners into the stored
    latest-state rows by WHOLE-ROW window rank (greatest (ts,
    event_id) survives).  Whole rows, deliberately: a per-column
    coalesce merge would resurrect a stored non-NULL value when the
    key's newest event legitimately carries NULL."""
    if existing is None:
        return batch_latest
    return (existing.unionByName(batch_latest)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn"))


@query("stream_latest_state", LATEST_STATE_SQL)
def stream_latest_state(spark, sf_dir):
    """A continuously-maintained LATEST-STATE table (current value
    per (user_id, event_type)) driven by the stream: every
    micro-batch reduces to its per-key winners, merges them into the
    managed table with ORDERED last-writer-wins (greatest (ts,
    event_id) survives — so replays and out-of-order batches cannot
    regress a key), and publishes the merged WHOLE rows atomically
    via the crash-safe snapshot swap (not merge_upsert_plan's
    per-column coalesce, which would resurrect an old non-NULL value
    over a key's legitimately-NULL newest event).  This is the
    foreachBatch + upsert pattern as an oracle-paired operator: the
    final table must equal the batch latest-per-key query over the
    same events.

    Scale shape: the per-batch reduction is a window over the
    micro-batch only; the merge is one co-partitioned full-outer
    join on the key (AQE broadcasts the batch-derived side — the
    small one — at runtime); state lives in the table itself, not
    the state store, so the stream restarts stateless."""
    from pyspark.sql import Window
    from ..io import publish_atomic, read_layer_table, table_path

    tune(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = _footer_schema(spark, path)
    wh = tempfile.mkdtemp(prefix="stream_latest_wh_")
    ckpt = tempfile.mkdtemp(prefix="stream_latest_ckpt_")
    cols = ["user_id", "event_type", "ts", "event_id", "value"]

    def upsert_batch(batch_df, _batch_id):
        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.col("ts").desc(), F.col("event_id").desc())
        batch_latest = (batch_df.select(*cols)
                        .withColumn("rn", F.row_number().over(w))
                        .filter(F.col("rn") == 1).drop("rn"))
        sess = batch_df.sparkSession
        existing = read_layer_table(sess, wh, "gold", "latest_state")
        merged = _merge_latest_rows(existing, batch_latest, w)
        publish_atomic(merged, table_path(wh, "gold", "latest_state"))

    try:
        q = (_with_event_time(
                spark.readStream.schema(schema)
                .option("pathGlobFilter", "events.parquet")
                .parquet(sf_dir))
             .writeStream.foreachBatch(upsert_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        out = (spark.read.parquet(table_path(wh, "gold", "latest_state"))
               .select("user_id", "event_type",
                       F.col("ts").alias("last_ts"),
                       F.col("event_id").alias("last_event_id"),
                       F.col("value").alias("last_value")))
        # materialize before the temp dirs vanish
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)


# ----------------------------- stream-stream LEFT OUTER join
SS_LEFT_SQL = """
WITH clicks AS (
  SELECT user_id, ts AS click_ts FROM events
  WHERE event_type = 'click'),
purch AS (
  SELECT user_id, ts AS purchase_ts FROM events
  WHERE event_type = 'purchase'),
wm AS (
  SELECT LEAST((SELECT MAX(click_ts) FROM clicks),
               (SELECT MAX(purchase_ts) FROM purch))
           - INTERVAL 1 HOUR AS w),
j AS (
  SELECT c.user_id, c.click_ts, p.purchase_ts
  FROM clicks c LEFT JOIN purch p
    ON p.user_id = c.user_id
   AND p.purchase_ts >= c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
SELECT user_id, click_ts, purchase_ts
FROM j CROSS JOIN wm
WHERE purchase_ts IS NOT NULL
   OR click_ts + INTERVAL 1 HOUR < w
"""


@query("stream_stream_left_outer", SS_LEFT_SQL)
def stream_stream_left_outer(spark, sf_dir, n_batches: int = 1):
    """Stream-stream LEFT OUTER join: every click, matched to
    same-user purchases within the following hour — and emitted
    WITH NULLS once the watermark proves no match can still arrive.
    This is the semantics inner stream joins cannot give (the
    "click that never converted" row), and the state contract is
    the interesting part: an unmatched click is held in the state
    store until the global watermark (min over both streams of max
    event time minus the 1-hour delay) passes its join-window end,
    then emitted null exactly once.

    The oracle replays that rule in SQL: batch left join plus the
    watermark cutoff — matched rows always emit; unmatched rows
    only when ``click_ts + 1h < watermark``.  Clicks newer than
    that stay in state at AvailableNow termination (they would
    resolve when the stream resumes), and the oracle holds them
    back identically, so the result is deterministic and
    hash-checked.  At 100 TB user_id keys the state and each side
    holds at most one lateness window of events.

    ``n_batches > 1`` replays the corpus as ascending-ts
    micro-batches through one engine start (r13 verdict #4); with
    time-ordered slices a null emission happens only once the global
    watermark proves no in-window purchase can still arrive, which
    is the same cutoff the final batch applies — identical rows,
    different scheduling."""
    tune(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = _footer_schema(spark, path)
    sink = f"stream_ssleft_{uuid.uuid4().hex[:8]}"
    src_dir, glob = sf_dir, "events.parquet"
    try:  # rmtree in finally: no leak window after slicing
        if n_batches > 1:
            src_dir, glob = _sliced_events_src(
                spark, sf_dir, n_batches), "*.parquet"

        def side(event_type, ts_alias, user_alias):
            reader = spark.readStream.schema(schema) \
                .option("pathGlobFilter", glob)
            if n_batches > 1:
                reader = reader.option("maxFilesPerTrigger", "1")
            return (
                _with_event_time(reader.parquet(src_dir), ltz=True)
                .filter(F.col("event_type") == event_type)
                .select(F.col("user_id").alias(user_alias),
                        F.col("ts").alias(ts_alias))
                .withWatermark(ts_alias, "1 hour"))

        clicks = side("click", "click_ts", "user_id")
        purchases = side("purchase", "purchase_ts", "p_user_id")
        joined = (
            clicks.join(
                purchases,
                (F.col("user_id") == F.col("p_user_id"))
                & (F.col("purchase_ts") >= F.col("click_ts"))
                & (F.col("purchase_ts")
                   <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
                "left_outer")
            .select("user_id", "click_ts", "purchase_ts"))
        prev = _stateful_shuffle_partitions(spark, path)
        try:
            q = (joined.writeStream.format("memory").queryName(sink)
                 .outputMode("append").trigger(availableNow=True)
                 .start())
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    finally:
        if src_dir != sf_dir:
            shutil.rmtree(src_dir, ignore_errors=True)
    return spark.table(sink)


# --------------------------- built-in session_window aggregation
SESSION_WIN_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTES
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged)
SELECT user_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_no
"""


@query("stream_session_window_builtin", SESSION_WIN_SQL)
def stream_session_window_builtin(spark, sf_dir):
    """Gap-based sessionization via Spark's BUILT-IN
    ``session_window`` aggregation — the native counterpart to the
    applyInPandasWithState operator (which exists for semantics this
    one cannot express: session numbering, late-event repair
    policies).  The engine merges per-key windows whose gaps are
    under {SESSION_GAP_MIN} minutes inside the streaming aggregate;
    state is one open window per active user.

    Spark's session window spans [first_ts, last_ts + gap), so the
    emitted end is ``window.end - gap`` — exactly MAX(ts), making
    the result comparable to the window-function oracle.  A strictly
    == gap spacing would diverge (session_window merges on
    ``< gap``... as does the oracle's ``> gap`` new-session rule —
    both half-open, same boundary)."""
    tune(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = _footer_schema(spark, path)
    sink = f"stream_sesswin_{uuid.uuid4().hex[:8]}"
    gap = f"{SESSION_GAP_MIN} minutes"
    agged = (
        _with_event_time(
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet").parquet(sf_dir),
            ltz=True)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id",
                F.col("w.start").alias("session_start"),
                (F.col("w.end")
                 - F.expr(f"INTERVAL {SESSION_GAP_MIN} MINUTES"))
                .alias("session_end"),
                "n_events")
    )
    prev = _stateful_shuffle_partitions(spark, path)
    try:
        q = (agged.writeStream.format("memory").queryName(sink)
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink).select(
        "user_id", "session_start", "session_end", "n_events")


# ------------------------- append-mode finalized tumbling windows
APPEND_DELAY_MIN = 10

APPEND_WIN_SQL = f"""
WITH wm AS (
  SELECT MAX(ts) - INTERVAL {APPEND_DELAY_MIN} MINUTES AS w
  FROM events),
agg AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_start,
         event_type,
         ROUND(AVG(value), 6) AS avg_value,
         COUNT(*) AS n_events
  FROM events
  GROUP BY time_bucket(INTERVAL '5 minutes', ts), event_type)
SELECT bucket_start, event_type, avg_value, n_events
FROM agg CROSS JOIN wm
WHERE bucket_start + INTERVAL 5 MINUTES < w
"""


@query("stream_tumbling_append_finalized", APPEND_WIN_SQL)
def stream_tumbling_append_finalized(spark, sf_dir):
    """Watermarked tumbling windows in APPEND mode: a window row is
    emitted exactly once, only after the watermark (max event time
    minus {APPEND_DELAY_MIN} minutes) passes its end — the
    exactly-once-per-window contract downstream appenders (files,
    Kafka, delta appends) need, where complete-mode re-emission
    would duplicate.  Windows still open at AvailableNow
    termination stay in state, and the oracle holds them back with
    the identical cutoff (``window end < watermark``), so the
    emission rule itself is hash-verified like the left-outer
    join's.  State is evicted as windows finalize — bounded by the
    lateness horizon, not the stream length."""
    tune(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = _footer_schema(spark, path)
    sink = f"stream_append_{uuid.uuid4().hex[:8]}"
    agged = (
        _with_event_time(
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet").parquet(sf_dir),
            ltz=True)
        .withWatermark("ts", f"{APPEND_DELAY_MIN} minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.round(F.avg("value"), 6).alias("avg_value"),
             F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("bucket_start"), "event_type",
                "avg_value", "n_events")
    )
    prev = _stateful_shuffle_partitions(spark, path)
    try:
        q = (agged.writeStream.format("memory").queryName(sink)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink)


# ---------------------- streaming incremental MinHash-LSH dedup
from . import REGISTRY as _REG  # noqa: E402
from . import dedup as _dedup  # noqa: E402  (registers the LSH oracle)

INCR_LSH_SQL = f"""
WITH pairs AS ({_REG["dedup_minhash_lsh_pairs"].oracle}),
docs AS (SELECT doc_id FROM documents)
SELECT d.doc_id,
       EXISTS(SELECT 1 FROM pairs p WHERE p.doc_b = d.doc_id)
         AS is_dup_of_earlier
FROM docs d
"""

#: micro-batches the corpus is replayed as (ascending doc_id ranges).
INCR_LSH_BATCHES = 3


def _debug_segment_keys(id_col: str) -> list[str] | None:
    """The opt-in segment key-disjointness assertion, shared by both
    index streams: under SPARK_GRAFT_DEBUG_SEGMENT_KEYS=1 every
    append verifies its keys are absent from earlier segments
    (io.append_batch_segment's contract; O(index) cost, debug only)."""
    return ([id_col] if os.environ.get("SPARK_GRAFT_DEBUG_SEGMENT_KEYS")
            else None)


#: conservative payload estimate for variable-width values whose
#: size the schema can't know (strings and structs; arrays whose
#: length the caller knows take a per-call override)
_VAR_WIDTH_DEFAULT_BYTES = 48


def _est_row_bytes(df, overrides: dict[str, int] | None = None) -> int:
    """Estimated in-memory bytes per materialized broadcast row,
    derived from the DataFrame SCHEMA (r13 ADVICE: the gate's
    per-row constants were hand-tuned per call site, so a schema
    change — wider key, extra column — silently miscalibrated the
    budget).  Fixed-width types are read off the schema; variable-
    width fields (string/binary/array) use ``overrides[name]`` when
    the caller knows the true payload (e.g. embedding dim*8) else a
    conservative default; +16 B/row object overhead."""
    from pyspark.sql import types as T

    overrides = overrides or {}
    total = 16
    for f in df.schema.fields:
        if f.name in overrides:
            total += overrides[f.name]
        elif isinstance(f.dataType, (T.LongType, T.DoubleType,
                                     T.TimestampType)):
            total += 8
        elif isinstance(f.dataType, (T.IntegerType, T.FloatType,
                                     T.DateType)):
            total += 4
        elif isinstance(f.dataType, T.BooleanType):
            total += 1
        else:  # string/binary/array/struct — schema can't size it
            total += _VAR_WIDTH_DEFAULT_BYTES
    return total


def _flag_batch_members(batch_ids, member_ids, id_col: str,
                        flag_col: str, n_batch_rows: int):
    """Per-batch boolean flag column: TRUE for batch rows whose id
    appears in ``member_ids`` — the r12 join-side policy for the dup
    verdicts of both index streams, in ONE place.

    ``member_ids`` may carry duplicates (a doc verified via several
    partners/bands) and its ROW count scales with collision density,
    so it is distinct-ed FIRST — bounding the broadcast side at the
    micro-batch cardinality (every value is a batch id) before the
    hint.  A forced broadcast of the raw pair-shaped set would be
    unbounded under a dup-dense corpus, exactly the class
    test_no_hardcoded_broadcast_on_scaling_sides exists to block.
    The hint itself is further gated on the heap budget via
    ``n_batch_rows`` (the distinct side is at most that many
    id+flag rows): a giant production trigger falls back to AQE."""
    batch_dup_flags = (member_ids.distinct()
                       .withColumn("dup", F.lit(True)))
    return (batch_ids
            .join(broadcast_within_budget(
                      batch_dup_flags,
                      n_batch_rows * _est_row_bytes(batch_dup_flags)),
                  id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("dup"), F.lit(False))
                    .alias(flag_col)))


#: segment-compaction cycle for the streaming index tables: fold
#: cold segments into the _bid=-1 base every this-many batches
#: (io.maybe_compact_segments).  Each compaction republishes the
#: full table (O(index)) so the cycle must stay >> 1; 4 keeps the
#: default 3-batch replays compaction-free while bounding a long
#: stream's per-table listing at ~5 _bid directories.
SEGMENT_COMPACT_EVERY = 4


def _run_index_stream(spark, path: str, corpus, id_col: str,
                      n_batches: int, verdict_table: str, step,
                      batch_times: list | None,
                      stage_times: list | None):
    """The one driver of the streaming near-dup indexes.

    Replays ``corpus`` (read from ``path``) as ``n_batches``
    ascending-``id_col`` single-file batches — the verdict rule
    "partner id < mine" needs lower ids indexed first — and drains
    them through one ``foreachBatch`` query.  Per micro-batch,
    ``step(batch_df, wh, mark)`` builds the batch's verdict frame
    and its index appends, a list of ``(frame, layer, table,
    partition_by)``; the driver then publishes the verdicts as the
    gold ``verdict_table`` segment, appends the index segments and
    runs the compaction policy.  Returns the verdict table, read
    once and checkpointed before the temp dirs go.

    ``batch_times`` / ``stage_times``, when given, receive the
    per-batch wall and the per-batch step walls between ``mark``
    calls (the step's own marks, then ``publish_verdicts``,
    ``append_index`` and ``compact``).  They observe the one path
    that always runs; they add no job."""
    import functools
    import time

    from ..io import (append_batch_segment, maybe_compact_segments,
                      read_layer_table, run_concurrently)

    src = tempfile.mkdtemp(prefix="index_stream_src_")
    wh = tempfile.mkdtemp(prefix="index_stream_wh_")
    ckpt = tempfile.mkdtemp(prefix="index_stream_ckpt_")

    def run_batch(batch_df, bid):
        sess = batch_df.sparkSession
        marks = [("start", time.perf_counter())]

        def mark(label):
            marks.append((label, time.perf_counter()))

        verdicts, appends = step(batch_df, wh, mark)
        # idempotent-by-construction segment appends (round-11): each
        # batch owns the _bid=<batch_id> partition of its tables, so
        # a replay overwrites its own segment in O(batch) instead of
        # anti-joining the whole accumulated index.  Batches are
        # ascending-id spans, key-disjoint by construction, which is
        # exactly append_batch_segment's contract (asserted under
        # SPARK_GRAFT_DEBUG_SEGMENT_KEYS=1 via the keys= debug arg).
        keys = _debug_segment_keys(id_col)
        # The VERDICTS write goes FIRST and alone: its un-checkpointed
        # lineage scans the index tables, and on a crash-replay of
        # this batch the listing includes the stale _bid=N files that
        # the index appends' dynamic overwrite would delete mid-scan
        # (review r13: concurrent verdicts+index writes turn the
        # replay-repair path into a FileNotFoundException / torn
        # read).  Only the INDEX appends run concurrently: distinct
        # tables, eagerly checkpointed inputs, and nothing in flight
        # scans them — a batch pays one write-round of scheduling
        # floor for all of them.
        append_batch_segment(sess, verdicts, wh, "gold", verdict_table,
                             bid, keys=keys)
        mark("publish_verdicts")
        run_concurrently(sess, [
            functools.partial(append_batch_segment, sess, sdf, wh, layer,
                              table, bid, partition_by=pby, keys=keys)
            for sdf, layer, table, pby in appends])
        mark("append_index")
        # wired compaction policy (r11 verdict #4): bound the segment
        # listing at O(SEGMENT_COMPACT_EVERY + horizon) directories
        # per table over the stream's life.  A stream shorter than
        # the cycle never compacts — and pays nothing for it.
        for sdf, layer, table, _pby in [
                (verdicts, "gold", verdict_table, None), *appends]:
            maybe_compact_segments(sess, wh, layer, table, bid,
                                   every=SEGMENT_COMPACT_EVERY,
                                   schema=sdf.schema)
        mark("compact")
        if stage_times is not None:
            stage_times.append({
                label: round(t1 - t0, 3)
                for (_, t0), (label, t1) in zip(marks, marks[1:])})
        if batch_times is not None:
            batch_times.append(round(marks[-1][1] - marks[0][1], 3))

    prev_parts = None
    try:
        max_id = corpus.agg(F.max(id_col)).first()[0]
        span = (max_id + n_batches) // n_batches
        for b in range(n_batches):
            write_replay_batch(
                corpus.filter((F.col(id_col) >= b * span)
                              & (F.col(id_col) < (b + 1) * span)),
                src, b)
        # input-sized shuffle width for the per-batch jobs (the same
        # 128 MB/partition rule the stateful streams use): a
        # micro-batch of a few thousand rows through 32-wide
        # exchanges pays ~5 AQE stage-scheduling floors per job
        # across ~5 jobs per batch — measured 13.3s -> 9.4s for the
        # LSH stream at sf0.1 (round-10 A/B).  At 100 TB the
        # byte-sized rule scales the width back up.
        prev_parts = _stateful_shuffle_partitions(spark, path)
        # maxFilesPerTrigger is a SOURCE option: it must be set on the
        # readStream (on the writer it is silently ignored and the
        # whole replay collapses into ONE micro-batch — round-6 fix;
        # the incremental-vs-batch equivalence invariant caught
        # nothing, because a single batch trivially equals the batch
        # result)
        q = (spark.readStream.schema(corpus.schema)
             .option("maxFilesPerTrigger", "1").parquet(src)
             .writeStream.foreachBatch(run_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        out = read_layer_table(spark, wh, "gold", verdict_table)
        return out.localCheckpoint(eager=True)
    finally:
        if prev_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        for d in (ckpt, wh, src):
            shutil.rmtree(d, ignore_errors=True)


@query("stream_incremental_lsh_dedup", INCR_LSH_SQL)
def stream_incremental_lsh_dedup(spark, sf_dir,
                                 n_batches: int = INCR_LSH_BATCHES,
                                 batch_times: list | None = None,
                                 stage_times: list | None = None):
    """Streaming near-dup INDEX MAINTENANCE — the production shape
    of MinHash-LSH dedup: documents arrive in micro-batches; each
    batch is signed, checked against the ACCUMULATED signature index
    (band-bucket join + signature-agreement verify, partner id <
    own id), its verdicts appended idempotently, and its signatures +
    band-long posting rows APPENDED to the two index tables
    (band-partitioned) as deterministic per-batch segments
    (io.append_batch_segment: replay of batch N overwrites its own
    _bid partition, O(batch), no index read) — per-batch write
    volume is O(batch), never a full index rewrite.  The
    tested contract is the incremental-equivalence invariant: after
    replaying the corpus as {INCR_LSH_BATCHES} ascending-id batches,
    the verdict table must equal the FULL-batch LSH pair query's
    "has a lower-id near-dup partner" relation — the oracle reuses
    that query's SQL verbatim.

    Scale shape: per micro-batch work is batch-signatures (map-only)
    + a join of the batch's band rows against the index on the exact
    (band, minhash values) key of ``dedup.band_long`` (the batch side
    is small — AQE broadcasts it; the index side shuffles on the
    band key only) + one key-only anti-join append.  State lives in
    the index TABLE, not the state store, so the stream restarts
    stateless and the index is queryable mid-stream.  The replay,
    appends and compaction are :func:`_run_index_stream`'s; the
    step marks are ``sign`` and ``bands``."""
    from ..io import read_layer_table
    from .dedup import (band_long, docs_corpus_size, minhash_params,
                        minhash_signatures)

    tune(spark)
    path = os.path.join(sf_dir, "documents.parquet")
    # corpus-adaptive signature width/banding, same floor-preserving
    # rule as the batch LSH family (dedup.minhash_params)
    nh, nb = minhash_params(docs_corpus_size(sf_dir))
    rpb = nh // nb

    def step(batch_df, wh, mark):
        sess = batch_df.sparkSession
        # a micro-batch arrives as ONE file = ONE partition (each
        # replay batch is a single coalesced parquet), so without a
        # spread the shingle+md5 signing runs on a single core —
        # measured 3.2s of the 4.6s per-batch wall at sf0.1 (round-10
        # decomposition), ~0.35s once fanned out.  At production
        # rates a trigger's files exceed the core count and the
        # repartition is a no-op guard (io.spread contract).
        batch_sigs = minhash_signatures(
            _io_spread(batch_df), nh).localCheckpoint(eager=True)
        # one narrow count over the materialized checkpoint (tens of
        # ms) sizes every batch-side broadcast hint below: the hints
        # are only safe while the trigger is small, and that must be
        # a MEASURED property of the batch, not an assumption about
        # maxFilesPerTrigger (r12 ADVICE)
        n_batch = batch_sigs.count()
        mark("sign")
        # bands stay eagerly checkpointed: they feed THREE consumers
        # (both sides of the candidate join + the posting-segment
        # append), and even with exact array keys (no md5 to redo)
        # the recompute measured costlier than the one extra job:
        # 4-batch replay at sf0.1, 12 alternating in-process pairs,
        # median 8.26 s checkpointed vs 9.07 s lazy, lazy faster in
        # 4 of 12 (round-11, md5 keys: 5.6-7.1 s vs 8.4-8.6 s)
        batch_bands = band_long(batch_sigs, nh, nb).localCheckpoint(
            eager=True)
        mark("bands")
        # The index is TWO append-only tables: signatures (verify
        # side) and the band-long posting list (candidate side,
        # partitioned by band).  Per batch we APPEND the batch delta
        # as its own deterministic segment — O(batch) write volume —
        # instead of republishing the whole index snapshot, whose
        # total write volume is O(batches x index): quadratic in
        # stream length, the scale-killer shape flagged in round 4.
        # Both index reads pass the batch's own schema: no
        # schema-inference job, and the band partition column comes
        # back typed int from the schema, not from the directory name.
        idx_bands = read_layer_table(sess, wh, "silver", "lsh_bands",
                                     schema=batch_bands.schema)
        all_bands = (batch_bands if idx_bands is None
                     else idx_bands.unionByName(batch_bands))
        # the batch side of the candidate probe is one micro-batch of
        # band rows — broadcast it explicitly so the accumulated index
        # side is scanned once and hash-probed map-side, never
        # shuffled on the band key (at a 100 TB index the index-side
        # exchange IS the cost; AQE would usually reach the same plan
        # but only after a replanning round per batch).  The hint is
        # byte-budget gated (r12 ADVICE): n_batch*nb band rows, each
        # sized off the schema (long id + int band) plus the key's
        # rpb longs and its array header, must fit the heap-derived
        # budget, else AQE plans it.
        bl = broadcast_within_budget(
            batch_bands,
            n_batch * nb * _est_row_bytes(
                batch_bands, {"key": 8 * rpb + 16})).alias("l")
        kl = all_bands.alias("r")
        # NOT distinct here: a pair colliding in several bands is
        # re-verified once per band, but candidates are a tiny
        # fraction of the batch and dup_ids' distinct collapses the
        # result — dropping the exchange saves a serial AQE stage
        # per batch, which at micro-batch sizes outweighs the
        # duplicate verify work
        cand = (bl.join(kl, (F.col("l.band") == F.col("r.band"))
                        & (F.col("l.key") == F.col("r.key"))
                        & (F.col("r.doc_id") < F.col("l.doc_id")))
                .select(F.col("l.doc_id").alias("doc_id"),
                        F.col("r.doc_id").alias("partner_id")))
        idx_sigs = read_layer_table(sess, wh, "silver", "lsh_index",
                                    schema=batch_sigs.schema)
        sigs_all = (batch_sigs if idx_sigs is None
                    else idx_sigs.unionByName(batch_sigs))
        batch_sig_probe = batch_sigs.alias("a")
        index_sig_side = sigs_all.alias("b")
        agree = sum(
            F.when(F.col(f"a.mh{k}") == F.col(f"b.mh{k}"), 1)
            .otherwise(0) for k in range(nh))
        # verify join order: (candidates x batch signatures) first —
        # the batch-side signature join broadcasts (batch-bounded);
        # the candidate-pair side is deliberately NOT hinted: its
        # cardinality scales with collision density (batch x index
        # partners), not the micro-batch, so the build side is left
        # to AQE's runtime sizes — broadcast when genuinely small,
        # honest shuffle join under a dup-dense pathology instead of
        # a forced driver collect of an unbounded pair set.
        # n_batch signature rows, sized off the schema (id + nh
        # minhash longs)
        cand_batch_sigs = cand.join(
            broadcast_within_budget(
                batch_sig_probe, n_batch * _est_row_bytes(batch_sigs)),
            cand.doc_id == F.col("a.doc_id"))
        dup_ids = (index_sig_side
                   .join(cand_batch_sigs,
                         cand_batch_sigs.partner_id
                         == F.col("b.doc_id"))
                   .filter((agree.cast("double") / nh) >= 0.5)
                   .select(cand.doc_id))
        verdicts = _flag_batch_members(
            batch_sigs.select("doc_id"), dup_ids,
            "doc_id", "is_dup_of_earlier", n_batch)
        # lsh_bands last: perfbench sizes the index warehouse after
        # its compaction call, the last of the batch
        return verdicts, [
            (batch_sigs, "silver", "lsh_index", None),
            (batch_bands, "silver", "lsh_bands", ["band"])]

    return _run_index_stream(
        spark, path, read_table(spark, sf_dir, "documents"), "doc_id",
        n_batches, "dup_verdicts", step, batch_times, stage_times)


# ------------------- streaming incremental embedding near-dup index
from .simsearch import (NEARDUP_PLANES, NEARDUP_T,  # noqa: E402
                        _bucket_col, _cosine, _norm, corpus_size,
                        neardup_planes)
from .simsearch import _bucket_sql as _emb_bucket_sql  # noqa: E402

EMB_INDEX_SQL = f"""
WITH vec AS (
  SELECT vec_id, embedding,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding) AS e))) AS nrm,
         CAST({{bucket}} AS BIGINT) AS bucket
  FROM embeddings),
dup AS (
  SELECT DISTINCT a.vec_id
  FROM vec a JOIN vec b
    ON b.bucket = a.bucket AND b.vec_id < a.vec_id
  WHERE ROUND((SELECT SUM(ae * be) FROM (
            SELECT CAST(UNNEST(a.embedding) AS DOUBLE) AS ae,
                   CAST(UNNEST(b.embedding) AS DOUBLE) AS be))
          / (a.nrm * b.nrm), 6) >= {NEARDUP_T})
SELECT v.vec_id,
       EXISTS(SELECT 1 FROM dup d WHERE d.vec_id = v.vec_id)
         AS is_dup_of_earlier
FROM vec v
"""

#: micro-batches the vector corpus is replayed as.
EMB_INDEX_BATCHES = 3


@query("stream_incremental_embedding_index",
       EMB_INDEX_SQL.format(bucket=_emb_bucket_sql(NEARDUP_PLANES)))
def stream_incremental_embedding_index(spark, sf_dir,
                                       n_batches: int = EMB_INDEX_BATCHES,
                                       batch_times: list | None = None,
                                       stage_times: list | None = None):
    """Streaming EMBEDDING near-dup index maintenance — the vector
    twin of stream_incremental_lsh_dedup: vectors arrive in
    ascending-id micro-batches; each batch is sign-LSH-bucketed,
    compared against the accumulated (bucket, vector) index — plus
    its own lower-id rows — by exact in-bucket cosine, verdicts
    append idempotently, and the batch's vectors APPEND to the
    bucket-partitioned index as a deterministic per-batch segment
    (io.append_batch_segment — O(batch) write volume per batch and
    O(batch) replays, never a full index rewrite or read).  The
    verified contract is again incremental-equals-batch: the verdict
    table must equal the batch "has a lower-id bucket-mate at cosine
    >= {NEARDUP_T}" relation.

    Scale shape: per batch, signature+bucket is map-only; the
    candidate join shuffles on the bucket key only (batch side small
    — AQE broadcasts it); the index table is the queryable state,
    so restarts are stateless and dedup decisions are auditable.
    The replay, appends and compaction are
    :func:`_run_index_stream`'s; the step mark is ``bucket``."""
    from ..io import read_layer_table

    tune(spark)
    path = os.path.join(sf_dir, "embeddings.parquet")
    d = read_table(spark, sf_dir, "embeddings")
    planes = neardup_planes(corpus_size(sf_dir))
    # vector width for the per-batch broadcast byte estimates (one
    # setup-time row fetch; every corpus row shares the dimension)
    first_emb = d.select("embedding").first()
    dim = len(first_emb[0]) if first_emb and first_emb[0] else 0

    def step(batch_df, wh, mark):
        sess = batch_df.sparkSession
        # single-file micro-batch = single partition: fan out before
        # the per-vector norm/plane math (same fix as the LSH twin's
        # signature build; no-op once a trigger spans many files)
        batch_vec = (_io_spread(batch_df).select(
            "vec_id", "embedding",
            _norm("embedding").alias("nrm"),
            _bucket_col(planes).cast("bigint").alias("bucket"))
            .localCheckpoint(eager=True))
        # one narrow count over the materialized checkpoint sizes
        # the broadcast hints below (r12 ADVICE — see the LSH twin)
        n_batch = batch_vec.count()
        mark("bucket")
        # typed by the batch's schema, as in the LSH twin: no
        # inference job, and the bucket partition column reads bigint
        index = read_layer_table(sess, wh, "silver", "emb_index",
                                 schema=batch_vec.schema)
        known = (batch_vec if index is None
                 else index.unionByName(batch_vec))
        partner = known.select(
            F.col("vec_id").alias("b_id"),
            F.col("embedding").alias("b_emb"),
            F.col("nrm").alias("b_nrm"),
            F.col("bucket").alias("b_bucket"))
        cos = _cosine("embedding", "b_emb", "nrm", "b_nrm")
        # broadcast the MICRO-BATCH side (eagerly checkpointed, size
        # known and trigger-bounded) so the accumulated index side is
        # scanned once and hash-probed map-side, never shuffled on
        # the bucket key — same r12 join-side policy as the LSH twin,
        # byte-budget gated on the measured batch size (r12 ADVICE):
        # n_batch rows sized off the schema, with the embedding
        # array's payload supplied as an override (dim x 8 B — the
        # one width the schema can't know) — a giant trigger falls
        # back to AQE
        dup_ids = (partner
                   .join(broadcast_within_budget(
                             batch_vec,
                             n_batch * _est_row_bytes(
                                 batch_vec, {"embedding": dim * 8})),
                         (F.col("b_bucket") == F.col("bucket"))
                         & (F.col("b_id") < F.col("vec_id")))
                   .filter(cos >= NEARDUP_T)
                   .select("vec_id"))
        verdicts = _flag_batch_members(
            batch_vec.select("vec_id"), dup_ids,
            "vec_id", "is_dup_of_earlier", n_batch)
        # append the batch delta only (bucket-partitioned index) —
        # the full-snapshot republish was O(batches x index) total
        # write volume, quadratic in stream length
        return verdicts, [(batch_vec, "silver", "emb_index", ["bucket"])]

    return _run_index_stream(
        spark, path, d, "vec_id", n_batches, "emb_verdicts", step,
        batch_times, stage_times)


# stream_incremental_embedding_index's oracle bakes the test-scale
# NEARDUP_PLANES bucket SQL; the Spark side derives planes from the
# corpus (see queries/__init__.py ORACLE_SCALE_KNEES).
from .simsearch import _KNEE_NEARDUP as _SIKNEE  # noqa: E402

register_oracle_knee("stream_incremental_embedding_index", _SIKNEE)

# ...and its LSH twin derives the signature width from the documents
# corpus (dedup.minhash_params) while the oracle bakes the floor.
from .dedup import SIG_KNEE as _SIGKNEE  # noqa: E402

register_oracle_knee("stream_incremental_lsh_dedup", _SIGKNEE,
                     table="documents")
