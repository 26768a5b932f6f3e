"""Table writes: the MERGE plan, the atomic snapshot publish and the
``_bid`` segment appends with their compaction.

The reference's only conflict primitive is ON CONFLICT DO NOTHING
(first-writer-wins); merge_upsert_plan adds the UPDATE half (SURVEY
§7 "What's hard" #3), and publish_atomic is the crash-safe publish:
staged write + rename swap, so readers see the old or the new
snapshot, never a mix.
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from energi_data_pipeline_spark.io import (merge_upsert_plan,
                                           publish_atomic, table_path)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_merge_plan_update_insert_keep(spark):
    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, tag string, v int")
    source = spark.createDataFrame(
        [(2, "B", 99), (3, None, 33), (4, "d", 40)],
        "k int, tag string, v int")
    out = merge_upsert_plan(target, source, ["k"])
    assert _rows(out) == {
        (1, "a", 10),      # unmatched target kept
        (2, "B", 99),      # matched -> source replaces
        (3, "c", 33),      # matched, NULL in source -> target's tag kept
        (4, "d", 40),      # source-only -> inserted
    }


def test_merge_plan_rejects_schema_drift(spark):
    a = spark.createDataFrame([(1, 2)], "k int, v int")
    b = spark.createDataFrame([(1, 2)], "k int, w int")
    with pytest.raises(ValueError, match="schemas differ"):
        merge_upsert_plan(a, b, ["k"])


def test_publish_atomic_swaps_and_cleans(spark, tmp_path):
    path = str(tmp_path / "t")
    publish_atomic(spark.createDataFrame([(1,)], "k int"), path)
    assert _rows(spark.read.parquet(path)) == {(1,)}
    publish_atomic(spark.createDataFrame([(2,)], "k int"), path)
    assert _rows(spark.read.parquet(path)) == {(2,)}
    # no staged/old leftovers
    leftovers = [d for d in os.listdir(tmp_path) if d != "t"]
    assert leftovers == []


def test_publish_atomic_recovers_hard_killed_swap(spark, tmp_path):
    # simulate a SIGKILL between the swap's two renames: the table
    # dir is gone, the previous snapshot is stranded at __old
    from energi_data_pipeline_spark.io import (read_layer_table,
                                               recover_atomic)

    path = str(tmp_path / "gold" / "t")
    publish_atomic(spark.createDataFrame([(1,)], "k int"), path)
    os.rename(path, f"{path}.__old")  # crash window state
    # a reader repairs and sees the OLD snapshot, not a missing table
    df = read_layer_table(spark, str(tmp_path), "gold", "t")
    assert df is not None and _rows(df) == {(1,)}
    assert not os.path.exists(f"{path}.__old")
    assert recover_atomic(path) is False  # idempotent no-op now
    # and a writer starting from the crash state also self-repairs
    os.rename(path, f"{path}.__old")
    publish_atomic(spark.createDataFrame([(2,)], "k int"), path)
    assert _rows(spark.read.parquet(path)) == {(2,)}
    leftovers = [d for d in os.listdir(tmp_path / "gold") if d != "t"]
    assert leftovers == []


# ------------------------------------------------- property testing
from hypothesis import HealthCheck, given, settings, strategies as st

rows_st = st.lists(
    st.tuples(st.integers(min_value=0, max_value=8),
              st.integers(min_value=-100, max_value=100)),
    min_size=0, max_size=12)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(target=rows_st, source=rows_st)
def test_merge_plan_matches_dict_semantics(spark, target, source):
    """merge_upsert_plan == dict.update on last-per-key maps (within
    each input, highest v wins as the deterministic representative)."""
    def dedupe(rows):
        best: dict[int, int] = {}
        for k, v in rows:
            if k not in best or v > best[k]:
                best[k] = v
        return best

    t_map, s_map = dedupe(target), dedupe(source)
    tdf = spark.createDataFrame(
        list(t_map.items()) or [(None, None)], "k int, v int").dropna()
    sdf = spark.createDataFrame(
        list(s_map.items()) or [(None, None)], "k int, v int").dropna()
    out = {(r["k"], r["v"])
           for r in merge_upsert_plan(tdf, sdf, ["k"]).collect()}
    want = dict(t_map)
    want.update(s_map)
    assert out == set(want.items())


# ----------------- append_batch_segment: idempotent-by-construction
# micro-batch appends (round-11: replaces the per-batch anti-join in
# the streaming index pipelines; replay of batch N overwrites its own
# _bid partition instead of reading the accumulated table)


def test_segment_append_accumulates_batches(spark, tmp_path):
    from energi_data_pipeline_spark.io import (append_batch_segment,
                                               read_layer_table)
    wh = str(tmp_path)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b1 = spark.createDataFrame([(3, "c")], "k int, v string")
    append_batch_segment(spark, b0, wh, "silver", "t", 0)
    append_batch_segment(spark, b1, wh, "silver", "t", 1)
    out = read_layer_table(spark, wh, "silver", "t")
    # the internal _bid partition column never reaches readers
    assert set(out.columns) == {"k", "v"}
    assert _rows(out) == {(1, "a"), (2, "b"), (3, "c")}


def test_segment_append_replay_overwrites_own_segment(spark, tmp_path):
    from energi_data_pipeline_spark.io import (append_batch_segment,
                                               read_layer_table)
    wh = str(tmp_path)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b1 = spark.createDataFrame([(3, "c")], "k int, v string")
    append_batch_segment(spark, b0, wh, "silver", "t", 0)
    append_batch_segment(spark, b1, wh, "silver", "t", 1)
    # replay batch 0 (at-least-once redelivery): its segment is
    # overwritten in place — no duplicate rows, batch 1 untouched
    append_batch_segment(spark, b0, wh, "silver", "t", 0)
    out = read_layer_table(spark, wh, "silver", "t")
    assert out.count() == 3
    assert _rows(out) == {(1, "a"), (2, "b"), (3, "c")}


def test_segment_append_replay_repairs_partial_segment(spark, tmp_path):
    """A crash mid-segment leaves partial files; the replay's dynamic
    overwrite must repair them (this is why the manifest
    skip-if-present variant was rejected — it would preserve the
    corruption forever)."""
    from energi_data_pipeline_spark.io import (append_batch_segment,
                                               read_layer_table, table_path)
    wh = str(tmp_path)
    full = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    append_batch_segment(spark, full, wh, "silver", "t", 0)
    # simulate the crash: drop all but one data file from the segment
    seg = Path(table_path(wh, "silver", "t")) / "_bid=0"
    parts = sorted(seg.glob("*.parquet"))
    if len(parts) > 1:
        for p in parts[1:]:
            p.unlink()
        assert read_layer_table(spark, wh, "silver", "t").count() < 3
    append_batch_segment(spark, full, wh, "silver", "t", 0)  # replay
    assert _rows(read_layer_table(spark, wh, "silver", "t")) == {
        (1, "a"), (2, "b"), (3, "c")}


def test_segment_append_with_partition_columns(spark, tmp_path):
    from energi_data_pipeline_spark.io import (append_batch_segment,
                                               read_layer_table)
    from pyspark.sql import functions as F
    wh = str(tmp_path)
    b0 = spark.createDataFrame(
        [(1, 0, "x"), (2, 1, "y")], "k int, band int, key string")
    append_batch_segment(spark, b0, wh, "silver", "t", 0,
                         partition_by=["band"])
    append_batch_segment(spark, b0, wh, "silver", "t", 0,  # replay
                         partition_by=["band"])
    out = read_layer_table(spark, wh, "silver", "t")
    assert out.count() == 2
    # band survives as a partition-directory column (string-typed
    # when partitionColumnTypeInference is off — cast on read-back,
    # same contract the index streams follow)
    assert {int(r[0]) for r in out.select(
        F.col("band").cast("int")).collect()} == {0, 1}


def test_segment_compaction_folds_and_preserves(spark, tmp_path):
    """compact_batch_segments folds every segment at or below the
    replay horizon into the _bid=-1 base, bounds the directory count,
    preserves rows exactly, and keeps LIVE segments replayable."""
    from energi_data_pipeline_spark.io import (append_batch_segment,
                                               compact_batch_segments,
                                               read_layer_table,
                                               table_path)
    wh = str(tmp_path)
    for b in range(5):
        df = spark.createDataFrame(
            [(b * 10 + i, f"v{b}_{i}") for i in range(3)],
            "k int, v string")
        append_batch_segment(spark, df, wh, "silver", "t", b)
    before = _rows(read_layer_table(spark, wh, "silver", "t"))
    assert len(before) == 15

    folded = compact_batch_segments(spark, wh, "silver", "t",
                                    upto_bid=2)
    assert folded == 3
    seg_dirs = sorted(
        d for d in Path(table_path(wh, "silver", "t")).iterdir()
        if d.name.startswith("_bid="))
    assert [d.name for d in seg_dirs] == ["_bid=-1", "_bid=3", "_bid=4"]
    assert _rows(read_layer_table(spark, wh, "silver", "t")) == before

    # a LIVE (uncompacted) batch replays idempotently as before
    df3 = spark.createDataFrame(
        [(30 + i, f"v3_{i}") for i in range(3)], "k int, v string")
    append_batch_segment(spark, df3, wh, "silver", "t", 3)
    assert _rows(read_layer_table(spark, wh, "silver", "t")) == before

    # compacting again with no eligible segments is a no-op
    assert compact_batch_segments(spark, wh, "silver", "t",
                                  upto_bid=2) == 0

    # a second horizon advance folds the rest into the same base
    assert compact_batch_segments(spark, wh, "silver", "t",
                                  upto_bid=10) == 2
    assert _rows(read_layer_table(spark, wh, "silver", "t")) == before
    seg_dirs = sorted(
        d for d in Path(table_path(wh, "silver", "t")).iterdir()
        if d.name.startswith("_bid="))
    assert [d.name for d in seg_dirs] == ["_bid=-1"]


def test_segment_compaction_with_partition_columns(spark, tmp_path):
    from energi_data_pipeline_spark.io import (append_batch_segment,
                                               compact_batch_segments,
                                               read_layer_table)
    from pyspark.sql import functions as F
    wh = str(tmp_path)
    for b in range(3):
        df = spark.createDataFrame(
            [(b * 10 + i, i % 2, f"x{b}{i}") for i in range(4)],
            "k int, band int, key string")
        append_batch_segment(spark, df, wh, "silver", "t", b,
                             partition_by=["band"])
    before = {
        (r["k"], int(r["band"]), r["key"]) for r in
        read_layer_table(spark, wh, "silver", "t")
        .select("k", F.col("band").cast("int").alias("band"), "key")
        .collect()}
    assert compact_batch_segments(spark, wh, "silver", "t",
                                  upto_bid=1,
                                  partition_by=["band"]) == 2
    after = {
        (r["k"], int(r["band"]), r["key"]) for r in
        read_layer_table(spark, wh, "silver", "t")
        .select("k", F.col("band").cast("int").alias("band"), "key")
        .collect()}
    assert after == before


def test_segment_compaction_derives_and_guards_partition_layout(
        spark, tmp_path):
    """Omitting partition_by derives the on-disk layout (compacting a
    band-partitioned table must NOT flatten band into a data column —
    mixed partition depths make the whole table unreadable); passing
    a WRONG partition_by is refused loudly."""
    from energi_data_pipeline_spark.io import (append_batch_segment,
                                               compact_batch_segments,
                                               read_layer_table,
                                               table_path)
    from pyspark.sql import functions as F
    wh = str(tmp_path)
    for b in range(3):
        df = spark.createDataFrame(
            [(b * 10 + i, i % 2, f"x{b}{i}") for i in range(4)],
            "k int, band int, key string")
        append_batch_segment(spark, df, wh, "silver", "t", b,
                             partition_by=["band"])
    # derive: no partition_by passed, layout preserved
    assert compact_batch_segments(spark, wh, "silver", "t",
                                  upto_bid=1) == 2
    base = Path(table_path(wh, "silver", "t")) / "_bid=-1"
    assert sorted(d.name for d in base.iterdir()
                  if d.name.startswith("band=")) == ["band=0", "band=1"]
    out = read_layer_table(spark, wh, "silver", "t")
    assert out.count() == 12
    assert {int(r[0]) for r in
            out.select(F.col("band").cast("int")).collect()} == {0, 1}
    # refuse: a mismatching partition_by is an error, not corruption
    with pytest.raises(ValueError, match="on-disk segment layout"):
        compact_batch_segments(spark, wh, "silver", "t", upto_bid=2,
                               partition_by=["key"])


# ---------------- round-12 hardening (VERDICT r11 #6 + ADVICE items)


def test_segment_append_keys_assertion_catches_overlap(spark, tmp_path):
    """The opt-in keys= debug assertion: disjoint batches pass, a
    batch whose keys already live in an EARLIER segment raises, and a
    REPLAY of a batch's own keys (same _bid) stays legal — replay
    overwrites its own segment, that is the whole design."""
    from energi_data_pipeline_spark.io import (append_batch_segment,
                                               read_layer_table)
    wh = str(tmp_path)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b1 = spark.createDataFrame([(3, "c"), (4, "d")], "k int, v string")
    append_batch_segment(spark, b0, wh, "silver", "t", 0, keys=["k"])
    append_batch_segment(spark, b1, wh, "silver", "t", 1, keys=["k"])
    # replay of batch 1 with identical keys: legal (own segment)
    append_batch_segment(spark, b1, wh, "silver", "t", 1, keys=["k"])
    assert read_layer_table(spark, wh, "silver", "t").count() == 4
    # a NEW batch re-using key 2 violates the cross-batch contract
    bad = spark.createDataFrame([(2, "dup")], "k int, v string")
    with pytest.raises(ValueError, match="key-disjoint"):
        append_batch_segment(spark, bad, wh, "silver", "t", 2,
                             keys=["k"])
    # ... and without keys= the (documented) contract is the
    # caller's problem — no check, no error
    append_batch_segment(spark, bad, wh, "silver", "t", 2)


def test_segment_append_repairs_hard_killed_compaction(spark, tmp_path):
    """ADVICE (medium): a compaction swap hard-killed between its two
    renames strands the full snapshot at <path>.__old with the table
    dir gone.  The NEXT APPEND must repair it before writing —
    otherwise the recreated dir makes recover_atomic a no-op forever
    and the compacted history is silently dropped for append-only
    tables that are never read between appends."""
    import shutil
    from energi_data_pipeline_spark.io import (append_batch_segment,
                                               read_layer_table,
                                               table_path)
    wh = str(tmp_path)
    for b in range(3):
        df = spark.createDataFrame(
            [(b * 10 + i, f"v{b}{i}") for i in range(2)],
            "k int, v string")
        append_batch_segment(spark, df, wh, "silver", "t", b)
    path = table_path(wh, "silver", "t")
    before = _rows(read_layer_table(spark, wh, "silver", "t"))
    # simulate the hard kill between publish_atomic's two renames
    shutil.move(path, f"{path}.__old")
    assert not os.path.exists(path)
    b3 = spark.createDataFrame([(30, "v30")], "k int, v string")
    append_batch_segment(spark, b3, wh, "silver", "t", 3)
    after = _rows(read_layer_table(spark, wh, "silver", "t"))
    assert after == before | {(30, "v30")}  # history survived
    assert not os.path.exists(f"{path}.__old")


def test_segment_partition_cols_skips_empty_and_rejects_mixed(
        spark, tmp_path):
    """ADVICE (low): the layout derivation scans ALL segments — an
    empty first segment dir (stranded partial write) must not
    misreport the layout as unpartitioned, and genuinely mixed
    layouts raise instead of silently republishing under the wrong
    one."""
    from energi_data_pipeline_spark.io import (_segment_partition_cols,
                                               append_batch_segment,
                                               compact_batch_segments,
                                               table_path)
    wh = str(tmp_path)
    df = spark.createDataFrame(
        [(i, i % 2, f"x{i}") for i in range(4)],
        "k int, band int, key string")
    append_batch_segment(spark, df, wh, "silver", "t", 1,
                         partition_by=["band"])
    path = table_path(wh, "silver", "t")
    # stranded EMPTY segment dir sorting FIRST (_bid=0 < _bid=1)
    os.makedirs(os.path.join(path, "_bid=0"))
    assert _segment_partition_cols(path) == ["band"]
    # stranded empty PARTITION subdir as the first sibling inside a
    # live segment: layout is derived from where data files actually
    # live, so the empty band=-1 dir carries no vote (the first-child
    # chain walk would have marked the whole segment empty)
    os.makedirs(os.path.join(path, "_bid=1", "band=-1"))
    assert _segment_partition_cols(path) == ["band"]
    # compaction derives the right layout despite the empty dir
    # (folded count includes the stranded empty dir it sweeps away)
    assert compact_batch_segments(spark, wh, "silver", "t",
                                  upto_bid=1) == 2
    # genuinely mixed layouts are refused loudly
    wh2 = os.path.join(str(tmp_path), "mixed")
    append_batch_segment(spark, df, wh2, "silver", "t", 0,
                         partition_by=["band"])
    append_batch_segment(spark, df, wh2, "silver", "t", 1)  # flat
    with pytest.raises(ValueError, match="disagree"):
        _segment_partition_cols(table_path(wh2, "silver", "t"))


def test_maybe_compact_segments_policy(spark, tmp_path):
    """The wired policy (VERDICT r11 #4): N batches through
    maybe_compact_segments leave at most every+horizon _bid segments
    plus the -1 base, with identical read-back, and every-batch
    compaction (the quadratic shape) is refused."""
    from energi_data_pipeline_spark.io import (append_batch_segment,
                                               maybe_compact_segments,
                                               read_layer_table,
                                               table_path)
    wh = str(tmp_path)
    every, horizon = 3, 1
    expect = set()
    for b in range(9):
        df = spark.createDataFrame(
            [(b * 10 + i, f"v{b}{i}") for i in range(2)],
            "k int, v string")
        expect |= {(b * 10 + i, f"v{b}{i}") for i in range(2)}
        append_batch_segment(spark, df, wh, "silver", "t", b)
        maybe_compact_segments(spark, wh, "silver", "t", b,
                               every=every, horizon=horizon)
        segs = [d for d in os.listdir(table_path(wh, "silver", "t"))
                if d.startswith("_bid=") and d != "_bid=-1"]
        assert len(segs) <= every + horizon
        assert _rows(read_layer_table(spark, wh, "silver", "t")) \
            == expect
    # fired on batches 2, 5, 8: base exists, only recent segs live
    segs = sorted(d for d in os.listdir(table_path(wh, "silver", "t"))
                  if d.startswith("_bid="))
    assert segs == ["_bid=-1", "_bid=7", "_bid=8"]
    with pytest.raises(ValueError, match="every must be"):
        maybe_compact_segments(spark, wh, "silver", "t", 9, every=1)
