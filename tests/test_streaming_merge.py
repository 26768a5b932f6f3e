"""Streaming upserts: the latest-state merge behind the
``stream_latest_state`` registry entry (whole-row, ordered
last-writer-wins) and the incremental index streams, whose verdicts
must not depend on how the corpus is split into micro-batches.
"""

from __future__ import annotations

from datetime import datetime


def test_merge_latest_rows_null_newest_wins(spark):
    """ADVICE r3 (low): a key whose NEWEST event carries NULL must
    surface NULL — whole-row merge, not per-column coalesce (which
    would resurrect the stored non-NULL value)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from energi_data_pipeline_spark.queries.streaming import (
        _merge_latest_rows)

    schema = ("user_id int, event_type string, ts timestamp, "
              "event_id int, value double")
    existing = spark.createDataFrame(
        [(1, "click", datetime(2024, 1, 1, 0, 0), 1, 5.0)], schema)
    batch = spark.createDataFrame(
        [(1, "click", datetime(2024, 1, 1, 0, 5), 2, None),
         (2, "view", datetime(2024, 1, 1, 0, 1), 3, 7.0)], schema)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())

    got = {tuple(r) for r in
           _merge_latest_rows(existing, batch, w).collect()}
    assert got == {
        (1, "click", datetime(2024, 1, 1, 0, 5), 2, None),
        (2, "view", datetime(2024, 1, 1, 0, 1), 3, 7.0)}


def test_incremental_lsh_dedup_matches_batch_any_split(spark, monkeypatch):
    """The incremental-equals-batch invariant must hold for ANY batch
    count, not just the oracle's default 3: replaying the corpus as
    5 ascending-id micro-batches yields the same verdict table as
    the full-batch LSH pair query's lower-id-partner relation.

    5 batches also crosses the SEGMENT_COMPACT_EVERY=4 cycle, so the
    in-stream compaction policy FIRES mid-stream (batch 3 folds
    _bid<=1 of all three index tables) and the invariant proves the
    fold preserved the index contents; and the run executes under
    SPARK_GRAFT_DEBUG_SEGMENT_KEYS=1, so append_batch_segment's
    cross-batch key-disjointness assertion is live for every append
    this stream performs — pinning the caller's ascending-id-span
    contract (r11 verdict #6)."""
    import energi_data_pipeline_spark.queries.streaming as st
    from energi_data_pipeline_spark.queries.dedup import (
        dedup_minhash_lsh_pairs)
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_DEBUG_SEGMENT_KEYS", "1")
    # NOTE: n_batches is passed explicitly — the old
    # monkeypatch.setattr(st, "INCR_LSH_BATCHES", 4) silently did
    # nothing (the default was bound at def time), so this test was
    # replaying the default 3 batches while claiming 4.
    got = {(r.doc_id, r.is_dup_of_earlier) for r in
           st.stream_incremental_lsh_dedup(spark, sf, n_batches=5)
           .collect()}

    pairs = dedup_minhash_lsh_pairs(spark, sf)
    dup_ids = {r.doc_b for r in pairs.select("doc_b").collect()}
    docs = spark.read.parquet(sf + "/documents.parquet")
    want = {(r.doc_id, r.doc_id in dup_ids)
            for r in docs.select("doc_id").collect()}
    assert got == want


def test_incremental_emb_index_disjoint_keys_contract(spark, monkeypatch):
    """The embedding-index stream (the second append_batch_segment
    caller) runs with the cross-batch key-disjointness assertion
    live — its ascending-vec_id batch spans satisfy the segment
    contract by construction (r11 verdict #6) — and with 5 batches
    the SEGMENT_COMPACT_EVERY=4 compaction policy FIRES mid-stream
    for the bucket-partitioned emb_index (the only array-column
    segment table), so the fold path is actually driven; the verdict
    table must still match the full-corpus relation regardless of
    the split."""
    import energi_data_pipeline_spark.queries.streaming as st

    monkeypatch.setenv("SPARK_GRAFT_DEBUG_SEGMENT_KEYS", "1")
    sf = "/root/testdata/sf0.001"
    got = {(r.vec_id, r.is_dup_of_earlier) for r in
           st.stream_incremental_embedding_index(
               spark, sf, n_batches=5).collect()}
    want = {(r.vec_id, r.is_dup_of_earlier) for r in
            st.stream_incremental_embedding_index(spark, sf)
            .collect()}
    assert got == want and len(got) > 0


def test_instrumented_lsh_stream_is_the_production_path(spark,
                                                         monkeypatch):
    """``stage_times``/``batch_times`` only observe: a run that passes
    them checkpoints and appends exactly as often as one that does
    not, emits the same verdicts, and records one stage record per
    micro-batch with the production path's step marks."""
    import energi_data_pipeline_spark.io as eio
    import energi_data_pipeline_spark.queries.streaming as st

    from .conftest import SF0001

    df_cls = type(spark.range(1))
    calls = {"localCheckpoint": 0, "append_batch_segment": 0}

    def counted(name, fn):
        def wrapper(*a, **kw):
            calls[name] += 1
            return fn(*a, **kw)
        return wrapper

    monkeypatch.setattr(df_cls, "localCheckpoint",
                        counted("localCheckpoint",
                                df_cls.localCheckpoint))
    monkeypatch.setattr(eio, "append_batch_segment",
                        counted("append_batch_segment",
                                eio.append_batch_segment))

    def run(**kw):
        calls.update(localCheckpoint=0, append_batch_segment=0)
        rows = {tuple(r) for r in
                st.stream_incremental_lsh_dedup(spark, SF0001, **kw)
                .collect()}
        return rows, dict(calls)

    stage_times: list = []
    batch_times: list = []
    timed, timed_calls = run(stage_times=stage_times,
                             batch_times=batch_times)
    plain, plain_calls = run()
    assert timed == plain and len(plain) > 0
    assert timed_calls == plain_calls
    assert plain_calls["append_batch_segment"] == 3 * st.INCR_LSH_BATCHES
    assert len(stage_times) == len(batch_times) == st.INCR_LSH_BATCHES
    for rec in stage_times:
        assert list(rec) == ["sign", "bands", "publish_verdicts",
                             "append_index", "compact"]
