"""Sessionization state-carry across micro-batches.

The oracle parity test drains everything in ONE batch, which never
executes the carried-open-session splice.  Here the events table is
split into two time-ordered files and the stream runs with
``maxFilesPerTrigger=1`` under Trigger.AvailableNow — two
micro-batches, so sessions spanning the file boundary must be
continued from the state store (numbering offset + start/count
splice).  The latest emission per session must equal a plain
batch-computed sessionization of the full data.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq

from energi_data_pipeline_spark.queries.streaming import (
    SESSION_GAP_MIN, run_sessionize_stream)

SF = "/root/testdata/sf0.001"


def expected_sessions(pdf: pd.DataFrame) -> set:
    gap = pd.Timedelta(minutes=SESSION_GAP_MIN)
    out = set()
    for user, g in pdf.groupby("user_id"):
        ts = g["ts"].sort_values().reset_index(drop=True)
        new_sess = ts.diff().isna() | (ts.diff() > gap)
        sess_no = new_sess.cumsum()
        for sno, s in ts.groupby(sess_no):
            out.add((int(user), int(sno), s.min(), s.max(), len(s)))
    return out


def test_state_carries_across_micro_batches(spark, tmp_path):
    table = pq.read_table(os.path.join(SF, "events.parquet"))
    pdf = table.to_pandas().sort_values("ts").reset_index(drop=True)
    half = len(pdf) // 2
    src = tmp_path / "src"
    src.mkdir()
    # two time-ordered files; mtimes force batch order = time order
    for i, part in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        p = src / f"ev{i}.parquet"
        part.to_parquet(p, index=False)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))

    result = run_sessionize_stream(
        spark, str(src), glob="ev*.parquet", max_files_per_trigger=1,
        checkpoint=str(tmp_path / "ckpt"))
    # "update" memory sink appends every emission; the final state of
    # a session is its latest (largest) emission
    final = (result.groupBy("user_id", "session_no")
             .agg({"session_start": "min", "session_end": "max",
                   "n_events": "max"})
             .collect())
    got = {(r["user_id"], r["session_no"], r["min(session_start)"],
            r["max(session_end)"], r["max(n_events)"]) for r in final}

    # events ts is int64 nanos in the parquet; truncate to micros the
    # same way the engine does
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="ns").dt.floor("us")
    want = expected_sessions(pdf[["user_id", "ts"]])
    assert got == want
    # sanity: the boundary actually split sessions across batches
    assert len(want) > 150  # more sessions than users -> real gaps


# ------------------------------------------------ late-data handling
def _nanos(minutes: float) -> int:
    base = pd.Timestamp("2024-01-01")
    return int((base + pd.Timedelta(minutes=minutes)).value)


def _write_batches(tmp_path, batches):
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        p = src / f"ev{i}.parquet"
        pd.DataFrame(rows, columns=["user_id", "ts"]).astype(
            {"user_id": "int64", "ts": "int64"}).to_parquet(p, index=False)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
    return src


def _final_sessions(result):
    final = (result.groupBy("user_id", "session_no")
             .agg({"session_start": "min", "session_end": "max",
                   "n_events": "max"})
             .collect())
    return {(r["user_id"], r["session_no"], r["min(session_start)"],
             r["max(session_end)"], r["max(n_events)"]) for r in final}


def test_out_of_order_within_batch_matches_oracle(spark, tmp_path):
    """A single micro-batch delivered in scrambled order must produce
    the same sessions as the batch oracle (per-batch sort)."""
    rows = [(1, _nanos(m)) for m in (0, 10, 5, 900, 3, 905, 902)]
    src = _write_batches(tmp_path, [rows])
    result = run_sessionize_stream(
        spark, str(src), glob="ev*.parquet",
        checkpoint=str(tmp_path / "ckpt"))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="ns").dt.floor("us")
    assert _final_sessions(result) == expected_sessions(pdf)


def test_cross_batch_late_event_repaired(spark, tmp_path):
    """Late events that still belong to the OPEN session — inside its
    span or chained onto its start — are merged across micro-batches,
    both when the session continues and when it then closes."""
    gap = SESSION_GAP_MIN
    b1 = [(1, _nanos(m)) for m in (0, 10)]          # open session A
    # late arrivals: inside A's span (5) and chained before its start
    # (-20, within gap of 0); then A continues (30) and later closes
    # when B starts after the gap
    b2 = [(1, _nanos(m)) for m in (5, -20, 30)]
    b3 = [(1, _nanos(m)) for m in (gap + 40, gap + 45)]   # session B
    src = _write_batches(tmp_path, [b1, b2, b3])
    result = run_sessionize_stream(
        spark, str(src), glob="ev*.parquet", max_files_per_trigger=1,
        checkpoint=str(tmp_path / "ckpt"))
    pdf = pd.DataFrame(b1 + b2 + b3, columns=["user_id", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="ns").dt.floor("us")
    assert _final_sessions(result) == expected_sessions(pdf)


def test_cross_batch_late_event_repaired_then_closed(spark, tmp_path):
    """A late event repaired into the open session whose very next
    in-order event closes that session: the corrected final row must
    still be emitted."""
    gap = SESSION_GAP_MIN
    b1 = [(1, _nanos(m)) for m in (0, 10)]
    b2 = [(1, _nanos(5)), (1, _nanos(gap + 20))]
    src = _write_batches(tmp_path, [b1, b2])
    result = run_sessionize_stream(
        spark, str(src), glob="ev*.parquet", max_files_per_trigger=1,
        checkpoint=str(tmp_path / "ckpt"))
    pdf = pd.DataFrame(b1 + b2, columns=["user_id", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="ns").dt.floor("us")
    assert _final_sessions(result) == expected_sessions(pdf)


def test_unrepairable_late_event_raises(spark, tmp_path):
    """A late event that cannot join the open session (it belongs to
    an older, already-emitted session) must fail loudly, never
    silently corrupt the numbering."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    gap = SESSION_GAP_MIN
    b1 = [(1, _nanos(0)), (1, _nanos(gap + 10))]  # A closed, B open
    b2 = [(1, _nanos(5))]  # belongs to A — unrepairable
    src = _write_batches(tmp_path, [b1, b2])
    with pytest.raises(StreamingQueryException):
        run_sessionize_stream(
            spark, str(src), glob="ev*.parquet", max_files_per_trigger=1,
            checkpoint=str(tmp_path / "ckpt"))


def _rowset(df):
    return {tuple(r) for r in df.collect()}


def _data_triggers(spark, run):
    """``run()``'s result and the number of triggers that read input
    while it drained its stream, counted from Spark's own listener
    bus (the mechanism perfbench's ProgressLog uses).  Listener
    events arrive asynchronously, so the count is read only after
    the query's termination event."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    cv = threading.Condition()
    started, ended, rows = [], set(), {}

    class Triggers(StreamingQueryListener):
        def onQueryStarted(self, event):
            with cv:
                started.append(event.runId)

        def onQueryProgress(self, event):
            p = event.progress
            with cv:
                rows.setdefault(p.runId, []).append(p.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with cv:
                ended.add(event.runId)
                cv.notify_all()

    listener = Triggers()
    spark.streams.addListener(listener)
    try:
        out = run()
        with cv:
            assert cv.wait_for(
                lambda: started and ended >= set(started), 60), \
                "no termination event for the replay query"
    finally:
        spark.streams.removeListener(listener)
    assert len(started) == 1, started
    return out, sum(1 for n in rows.get(started[0], []) if n > 0)


def test_stream_stream_join_n_batches_replay_equivalence(spark):
    """r13 verdict #4 wiring: the n_batches replay (ascending-ts
    slices, one engine start, maxFilesPerTrigger=1) must emit
    exactly the rows of the one-trigger run — time-ordered slices
    mean no late data, so watermark eviction drops nothing."""
    from energi_data_pipeline_spark.queries.streaming import (
        stream_stream_join)

    one = _rowset(stream_stream_join(spark, SF))
    rep, triggers = _data_triggers(spark, lambda: _rowset(
        stream_stream_join(spark, SF, n_batches=3)))
    assert rep == one and len(one) > 0
    # the replay really ran as several data-carrying micro-batches
    assert triggers >= 3


def test_stream_stream_left_outer_n_batches_replay_equivalence(spark):
    from energi_data_pipeline_spark.queries.streaming import (
        stream_stream_left_outer)

    one = _rowset(stream_stream_left_outer(spark, SF))
    rep, triggers = _data_triggers(spark, lambda: _rowset(
        stream_stream_left_outer(spark, SF, n_batches=3)))
    assert rep == one and len(one) > 0
    # the interesting rows — null emissions via the watermark proof —
    # must survive the replay identically
    assert any(r[2] is None for r in one)
    # and the replay must not collapse into one micro-batch (a
    # maxFilesPerTrigger set on the writer is silently ignored)
    assert triggers >= 3
