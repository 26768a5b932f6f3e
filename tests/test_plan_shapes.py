"""Physical-plan regression tests (SURVEY.md §4.3).

Correctness at sf0.01 says nothing about the 100 TB shape — these
assert the plan PROPERTIES that make the engine survive scale:
filters reach the parquet scan, small dimensions broadcast, scans
prune to the projected columns, hot paths stay in whole-stage
codegen, and no window collapses to a single partition.
"""

from __future__ import annotations

import pytest

from energi_data_pipeline_spark.queries import load_all

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def plan_of(spark, registry, name, mode="formatted"):
    df = registry[name].fn(spark, SF)
    jvm = spark._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def test_filter_pushdown_reaches_scan(spark, registry):
    p = plan_of(spark, registry, "core_filter_range_notnull")
    scan = p[p.index("Scan parquet"):]
    pushed = scan[scan.index("PushedFilters"):].splitlines()[0]
    assert "IsNotNull" in pushed
    # the ts cursor is int64 nanos at the scan, so the > predicate is
    # pushed on the value column; row-group stats prune either way
    assert "GreaterThan" in pushed or "IsNotNull(value)" in pushed


def test_column_pruning_reaches_scan(spark, registry):
    p = plan_of(spark, registry, "core_ordered_export")
    scan = p[p.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema"):].splitlines()[0]
    # 4 projected columns and nothing else from the 16-col lineitem
    for col in ("l_orderkey", "l_linenumber", "l_shipdate", "l_returnflag"):
        assert col in read_schema
    assert "l_comment" not in read_schema
    assert "l_extendedprice" not in read_schema


def test_dim_join_broadcasts(spark, registry):
    p = plan_of(spark, registry, "core_join_fact_dim")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_star_joins_broadcast_small_dims(spark, registry):
    p = plan_of(spark, registry, "core_cte_chain")
    # nation rides an explicit broadcast; customer carries NO hint
    # (SF-proportional side) but the planner must still pick a
    # broadcast from its size estimate at test scale — proving the
    # removed hint was redundant here and only a hazard at 100 TB
    assert p.count("BroadcastHashJoin") >= 2


#: every F.broadcast() in the package must target a side whose size
#: is bounded independent of scale factor.  Hardcoded hints on
#: customer/supplier/part subsets or corpus-derived samples OOM the
#: executors at 100 TB (the round-2 systemic finding) — AQE already
#: broadcasts those at runtime whenever they actually fit.  A one-row
#: side (a global aggregate, a limit(1)) carries no hint: the planner
#: sizes it at one row and broadcasts it anyway.
BOUNDED_BROADCAST_SIDES = {
    "nation", "nations", "region",   # fixed-cardinality TPC-H dims
    "n",                             # Q7's two-nation filter
    "dim",                           # dim_time (time-range bounded)
    "cent",                          # IVF / PQ coarse centroids
    "pcent",                         # PQ codebook (same class as
                                     # "cent": a sub-corpus quantizer
                                     # table)
    "type_avg",                      # per-p_type agg (fixed key space)
    "cells",                         # count-min grid: CM_DEPTH x
                                     # CM_WIDTH cells by construction
    "hit",                           # Bloom bit-position set:
                                     # <= BLOOM_BITS rows by
                                     # construction
    "local_labels",                  # CC localization label table:
                                     # bounded by CC_LOCAL_EDGE_LIMIT
                                     # (graph._local_labels_df — the
                                     # collect itself is count-gated)
    "budget_gated_side",             # io.broadcast_within_budget, the
                                     # one gate for every side that
                                     # scales with the data: hinted
                                     # only while the caller's size
                                     # estimate fits the heap-derived
                                     # byte budget
}


def test_no_hardcoded_broadcast_on_scaling_sides():
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent \
        / "energi_data_pipeline_spark"
    offenders = []
    for src in sorted(pkg.rglob("*.py")):
        for i, line in enumerate(src.read_text().splitlines(), 1):
            for ident in re.findall(r"F\.broadcast\(\s*(\w+)", line):
                if ident not in BOUNDED_BROADCAST_SIDES:
                    offenders.append(f"{src.name}:{i} broadcast({ident})")
    assert not offenders, offenders


def test_budget_decision_lives_in_io():
    # one broadcast-vs-shuffle gate: every budget-keyed join side goes
    # through io.broadcast_within_budget, so no other module reads the
    # byte budget and decides on its own
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent \
        / "energi_data_pipeline_spark"
    callers = sorted(
        f"{src.relative_to(pkg)}:{i}"
        for src in pkg.rglob("*.py")
        for i, line in enumerate(src.read_text().splitlines(), 1)
        if re.search(r"\bbroadcast_budget_bytes\(", line))
    assert callers and all(c.startswith("io.py:") for c in callers), \
        callers


def test_unhinted_dim_joins_still_broadcast_at_test_scale(
        spark, registry):
    # the SF-proportional join sides (customer, part, supplier
    # subsets) are unhinted for 100 TB safety; executing at test
    # scale, the planner must still run them as broadcast joins from
    # size estimates / AQE — no perf regression from the hint removal
    for name in ("core_cte_chain", "tpch_q14_promo_effect",
                 "tpch_q18_large_volume_customer"):
        df = registry[name].fn(spark, SF)
        df.collect()
        p = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple")
        assert "BroadcastHashJoin" in p, name


def test_no_single_partition_window_in_scaled_paths(spark, registry):
    # round-1 regression guard, round-6 shape: the CORPUS window pass
    # must be bucket-parallel (windowspecdefinition keyed by
    # __bucket).  The single-shuffle rewrite adds a tiny-edge repair
    # window (first/last k-1 rows per bucket only) that is allowed to
    # collapse — at most ONE SinglePartition window, and it must sit
    # above the __rn/__tail edge filter, never over the raw corpus.
    for name in ("core_moving_avg_bucket_parallel",
                 "core_moving_avg_partitioned", "gold_events_full"):
        p = plan_of(spark, registry, name)
        bucketed = "__bucket" in p
        if bucketed:  # bucket-parallel: corpus window keyed by bucket
            assert "__bucket" in p.split("windowspecdefinition(")[1], name
        assert p.count("SinglePartition") <= (1 if bucketed else 0), name
        if "SinglePartition" in p:
            assert "__rn" in p, name  # repair pass input, not corpus


def test_gold_window_is_bucket_parallel(spark, registry):
    # round-1 regression: PARTITION BY event_type alone caps the
    # flagship window at one task per type (5 tasks forever); the
    # grouped bucket-parallel operator partitions the corpus window
    # by (event_type, __bucket) so parallelism scales with volume.
    # The tiny-edge repair window is keyed by event_type alone (its
    # input is ~2(k-1) rows per bucket, never the corpus).
    p = plan_of(spark, registry, "gold_events_full")
    specs = p.split("windowspecdefinition(")[1:]
    assert specs, "expected window specs in gold_events_full plan"
    assert any("__bucket" in s[:200] for s in specs)
    for s in specs:
        assert "__bucket" in s[:200] or "event_type" in s[:200]
    assert "SinglePartition" not in p


def test_parity_global_window_is_the_known_exception(spark, registry):
    # the oracle-exact global window (core_moving_avg_5row) is the
    # documented single-task variant; this guards the docs' claim
    p = plan_of(spark, registry, "core_moving_avg_5row")
    assert "SinglePartition" in p


def test_map_stages_stay_in_codegen(spark, registry):
    for name in ("text_quality_score", "text_token_stats",
                 "core_project_rename_arith"):
        # simple mode prefixes codegen'd stages with "*("
        p = plan_of(spark, registry, name, mode="simple")
        assert "*(" in p, name
        assert "BatchEvalPython" not in p, name  # no row-at-a-time UDF


def test_no_python_udf_outside_multimodal(spark, registry):
    # every operator except the mapInPandas decode stub is JVM-side
    for name, qd in registry.items():
        if name.startswith(("mm_", "stream_")):
            continue  # mapInPandas / stateful-pandas by design
        p = plan_of(spark, registry, name)
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, name


def test_tpch_snowflake_broadcasts(spark, registry):
    # Q5: only the bounded region→nation chain is hinted; customer
    # and supplier still ride broadcasts at test scale via size
    # estimates.  One shuffle join (orders⋈lineitem) is allowed.
    p = plan_of(spark, registry, "tpch_q5_local_supplier",
                mode="simple")
    assert p.count("BroadcastHashJoin") >= 3
    assert p.count("SortMergeJoin") <= 1
    p14 = plan_of(spark, registry, "tpch_q14_promo_effect")
    assert "BroadcastHashJoin" in p14
    assert "SortMergeJoin" not in p14


def test_funnel_has_no_window(spark, registry):
    # the funnel is cascaded conditional aggregates — a window over
    # the full event stream would be the wrong (serial-ish) shape
    p = plan_of(spark, registry, "ext_funnel")
    assert "windowspecdefinition" not in p.lower()


def test_resample_aggregates_before_fill_join(spark, registry):
    # the corpus-scale work must be the hourly partial aggregate;
    # the spine join and fill window run over dimension-sized data
    p = plan_of(spark, registry, "ext_time_resample", mode="simple")
    assert "HashAggregate" in p
    assert "partial" in p.lower() or "partial_" in p.lower()


def test_ivf_assignment_broadcasts_centroids(spark, registry):
    # the centroid table must broadcast onto the corpus (map-only
    # assignment); a shuffle join there would move the corpus twice
    p = plan_of(spark, registry, "sims_ivf_ann")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_new_llm_ops_plan_shapes(spark, registry):
    # mixture sampling is a pure map stage: zero exchanges
    p = plan_of(spark, registry, "curation_mixture_sample",
                mode="simple")
    assert "Exchange" not in p
    # sequence packing: exactly one shuffle (hash by source shard),
    # and never a single-partition global window
    p = plan_of(spark, registry, "curation_sequence_pack",
                mode="simple")
    assert p.count("Exchange") == 1
    assert "SinglePartition" not in p
    # PQ-ADC: codes join is an equi-join — no cartesian, no
    # nested-loop anywhere in the scoring path
    p = plan_of(spark, registry, "sims_pq_adc", mode="simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # perceptual-hash near-dup: the hash pass is Arrow-batched
    # mapInPandas and candidates come from the band-bucket equi-join
    p = plan_of(spark, registry, "mm_phash_near_dup", mode="simple")
    assert "MapInPandas" in p
    assert "CartesianProduct" not in p
    # unigram LM: no cartesian beyond the one-row scalar broadcast
    p = plan_of(spark, registry, "text_unigram_logprob",
                mode="simple")
    assert "CartesianProduct" not in p


def test_ann_plane_count_scales_with_corpus():
    # round-3 verdict: a fixed 256-bucket code caps selectivity and
    # reducer parallelism independent of corpus size.  The plane
    # count must (a) stay at the oracle-stable default through every
    # test SF, (b) grow ~one plane per corpus doubling beyond that,
    # (c) cap at MAX_PLANES.
    from energi_data_pipeline_spark.queries.simsearch import (
        MAX_PLANES, N_PLANES, TARGET_BUCKET_OCC, corpus_size,
        planes_for)

    # (a) oracle-stable at test scale: sf0.01 and sf0.1 corpora (500
    # and 2000 vectors) and anything up to 2^N_PLANES buckets' worth
    assert planes_for(corpus_size("/root/testdata/sf0.01")) == N_PLANES
    assert planes_for(corpus_size("/root/testdata/sf0.1")) == N_PLANES
    assert planes_for(TARGET_BUCKET_OCC << N_PLANES) == N_PLANES
    # (b) proportional growth: buckets ~ n / TARGET_BUCKET_OCC
    for n in (10**6, 10**7, 10**8):
        planes = planes_for(n)
        assert planes > N_PLANES
        assert planes_for(2 * n) == min(MAX_PLANES, planes + 1)
        # mean occupancy stays within 2x of target (cap aside)
        if planes < MAX_PLANES:
            assert TARGET_BUCKET_OCC / 2 <= n / (1 << planes) \
                <= TARGET_BUCKET_OCC
    # (c) bounded fan-out for a trillion-vector corpus
    assert planes_for(10**12) == MAX_PLANES


def test_neardup_plane_count_scales_with_corpus():
    # the near-dup family scans whole buckets, so a fixed code means
    # quadratic pair growth (measured 10x vectors -> 11x wall at 16
    # buckets).  Planes must stay at the oracle-stable default at
    # every test SF and grow with the corpus beyond.
    from energi_data_pipeline_spark.queries.simsearch import (
        MAX_PLANES, NEARDUP_OCC, NEARDUP_PLANES, corpus_size,
        neardup_planes)

    assert neardup_planes(
        corpus_size("/root/testdata/sf0.01")) == NEARDUP_PLANES
    assert neardup_planes(
        corpus_size("/root/testdata/sf0.1")) == NEARDUP_PLANES
    assert neardup_planes(NEARDUP_OCC << NEARDUP_PLANES) == NEARDUP_PLANES
    assert neardup_planes(20_000) > NEARDUP_PLANES
    for n in (10**6, 10**7):
        assert neardup_planes(2 * n) == min(MAX_PLANES,
                                            neardup_planes(n) + 1)
    assert neardup_planes(10**12) == MAX_PLANES


def test_ivf_centroid_stride_scales_with_corpus():
    # fixed stride -> centroids ∝ corpus -> O(n²/stride) assignment
    # (the knee SCALE_r04.md measured).  Past the test-scale knee the
    # stride grows as sqrt(n) so cells ≈ sqrt(n): assignment is
    # O(n·sqrt n) and per-cell scan cost grows symmetrically.
    import math

    from energi_data_pipeline_spark.queries.simsearch import (
        CENT_STRIDE, cent_stride_for, corpus_size)

    assert cent_stride_for(
        corpus_size("/root/testdata/sf0.01")) == CENT_STRIDE
    assert cent_stride_for(
        corpus_size("/root/testdata/sf0.1")) == CENT_STRIDE
    assert cent_stride_for((2 * CENT_STRIDE) ** 2) == CENT_STRIDE
    for n in (10**5, 10**7, 10**9):
        stride = cent_stride_for(n)
        cells = n / stride
        # cells within 2x of sqrt(n) — the balanced IVF shape
        assert math.sqrt(n) / 2 <= cells <= 2 * math.sqrt(n)


def test_bruteforce_block_count_scales_with_corpus():
    # fixed block count -> block size ∝ corpus -> one reducer's
    # nested-loop task grows unboundedly.  Blocks hold ~BLOCK_TARGET
    # vectors past the test scales; decomposition never changes the
    # result, only how the all-pairs work shards.
    import math

    from energi_data_pipeline_spark.queries.simsearch import (
        BLOCK_TARGET, N_BLOCKS, blocks_for, corpus_size)

    assert blocks_for(corpus_size("/root/testdata/sf0.01")) == N_BLOCKS
    assert blocks_for(corpus_size("/root/testdata/sf0.1")) == N_BLOCKS
    for n in (10**6, 10**8):
        blocks = blocks_for(n)
        assert blocks == math.ceil(n / BLOCK_TARGET)
        assert n / blocks <= BLOCK_TARGET


def test_pq_codebook_size_bounded():
    # textbook PQ: a one-byte code addresses ~256 centroids per
    # block regardless of corpus size.  A fixed seeding stride would
    # grow the codebook (and the n·codes assignment pass) linearly.
    import math

    from energi_data_pipeline_spark.queries.simsearch import (
        CB_CODES, CB_STRIDE, cb_stride_for, corpus_size)

    assert cb_stride_for(corpus_size("/root/testdata/sf0.01")) \
        == CB_STRIDE
    assert cb_stride_for(corpus_size("/root/testdata/sf0.1")) \
        == CB_STRIDE
    for n in (10**6, 10**9, 10**12):
        stride = cb_stride_for(n)
        assert stride == max(CB_STRIDE, math.ceil(n / CB_CODES))
        assert n / stride <= CB_CODES


def test_minhash_signature_scales_with_corpus():
    # round-4 verdict: NUM_HASHES=8/NUM_BANDS=2 was the last fixed
    # fan-out knob — an 8-hash signature gives 1/8-granularity
    # Jaccard estimates and a shallow S-curve, far too coarse for a
    # production corpus (64-128 hashes is the published regime).
    # The signature must (a) keep the oracle-stable floor through
    # every test SF and up to SIG_KNEE docs, (b) widen with the
    # corpus beyond, (c) cap at MAX_HASHES, and (d) keep the banding
    # threshold near the floor's ~0.84 operating point throughout.
    from energi_data_pipeline_spark.queries.dedup import (
        MAX_HASHES, NUM_BANDS, NUM_HASHES, SIG_KNEE, docs_corpus_size,
        minhash_params)

    # (a) oracle-stable at every test SF
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        assert minhash_params(docs_corpus_size(sf)) == (NUM_HASHES,
                                                        NUM_BANDS)
    assert minhash_params(SIG_KNEE) == (NUM_HASHES, NUM_BANDS)
    # (b) widening past the knee, monotone in corpus size
    prev = NUM_HASHES
    for n in (SIG_KNEE * 4, SIG_KNEE * 16, 10**8, 10**10):
        nh, nb = minhash_params(n)
        assert nh >= prev
        assert nh % nb == 0
        prev = nh
    # (c) capped for a trillion-doc corpus
    assert minhash_params(10**12)[0] == MAX_HASHES
    # (d) threshold stays in the floor's regime at every width
    t_floor = (1.0 / NUM_BANDS) ** (NUM_BANDS / NUM_HASHES)
    for n in (SIG_KNEE * 4, 10**8, 10**12):
        nh, nb = minhash_params(n)
        t = (1.0 / nb) ** (nb / nh)
        assert abs(t - t_floor) < 0.12, (nh, nb, t)


def test_fastsum_twins_have_no_decimal_in_plan(spark):
    # the fixed-point production twins exist precisely to avoid
    # Spark's non-vectorized >18-digit decimal accumulation — a
    # decimal cast creeping back into their plans would silently
    # reintroduce the 4-5x tax they were measured to remove.
    from energi_data_pipeline_spark.queries import load_all

    reg = load_all()
    for name in ("core_groupby_agg_fastsum", "core_cte_chain_fastsum"):
        plan = reg[name].fn(
            spark, "/root/testdata/sf0.001")._jdf.queryExecution() \
            .optimizedPlan().toString()
        assert "decimal(38," not in plan, f"{name}: decimal crept in"


def test_tfidf_pairs_weight_table_is_cached(spark):
    # the TF-IDF weight table feeds three plan branches; uncached it
    # re-ran the single-task tokenizer per branch (15.3s -> 3.4s at
    # sf0.1 when fixed).  Pin the InMemoryRelation into the plan.
    from energi_data_pipeline_spark.queries import load_all

    reg = load_all()
    df = reg["text_tfidf_cosine_pairs"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    spark.catalog.clearCache()


def test_tfidf_query_cosine_bit_equals_symmetrized_pairs(spark):
    # sims_hybrid_rrf's lexical leg uses the query-sided ranking
    # (probes only strided query postings against the inverted
    # index); it must be BIT-equal to symmetrizing the full-pairs
    # operator and keeping strided queries — same fixed-point dots
    # (double multiply is commutative, so floor terms match in both
    # directions), same norms, same threshold.
    from pyspark.sql import functions as F

    from energi_data_pipeline_spark.queries.text import (
        text_tfidf_cosine_pairs, tfidf_query_cosine)

    sf = "/root/testdata/sf0.001"
    stride = 10
    lex = text_tfidf_cosine_pairs(spark, sf)
    sym = (lex.select(F.col("doc_a").alias("query_id"),
                      F.col("doc_b").alias("cand"), "cosine")
           .unionByName(
               lex.select(F.col("doc_b").alias("query_id"),
                          F.col("doc_a").alias("cand"), "cosine"))
           .filter(F.col("query_id") % stride == 0))
    got = sorted(map(tuple, tfidf_query_cosine(spark, sf, stride)
                     .collect()))
    want = sorted(map(tuple, sym.collect()))
    assert got == want and len(got) > 0
    spark.catalog.clearCache()


def test_oracle_scale_guard_fires_past_the_knee(tmp_path):
    # the guard exists so a parity run against a rehearsal-scale
    # corpus fails LOUDLY; prove it actually fires (every test SF is
    # below the knees, so without this the firing path is untested).
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from energi_data_pipeline_spark.queries import (ORACLE_SCALE_KNEES,
                                                    load_all,
                                                    oracle_scale_guard)

    load_all()
    assert ORACLE_SCALE_KNEES, "knee registry is empty"
    # corpus past the near-dup knee (2048 embeddings), tiny payload
    n = 3000
    pq.write_table(
        pa.table({"vec_id": pa.array(range(n), type=pa.int64()),
                  "embedding": pa.array([[0.0]] * n,
                                        type=pa.list_(pa.float32())),
                  "label": pa.array([0] * n, type=pa.int32())}),
        str(tmp_path / "embeddings.parquet"))
    pq.write_table(
        pa.table({"doc_id": pa.array(range(200_000), type=pa.int64())}),
        str(tmp_path / "documents.parquet"))
    msg = oracle_scale_guard("dedup_embedding_cosine", str(tmp_path))
    assert msg is not None and "2048" in msg
    msg = oracle_scale_guard("dedup_minhash_lsh_pairs", str(tmp_path))
    assert msg is not None and "131072" in msg
    # below-knee corpora stay guarded-green
    assert oracle_scale_guard("dedup_embedding_cosine",
                              "/root/testdata/sf0.01") is None
    # unknown queries never block
    assert oracle_scale_guard("core_groupby_agg", str(tmp_path)) is None


def test_gram_broadcast_knee_keys_on_text_mass(spark, tmp_path):
    # r07 regression (VERDICT r06 "What's wrong" #1): the gram
    # broadcast knee must key on exploded-gram MASS (text bytes),
    # not document count.  A corpus of FEW but HUGE documents —
    # which the old 150k-doc knob would happily broadcast — must be
    # pinned to sort-merge; the small test corpora must still
    # broadcast (the measured-faster side of the knee).
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from energi_data_pipeline_spark.io import BCAST_BUDGET_CAP
    from energi_data_pipeline_spark.queries.dedup import (
        GRAM_ROW_BCAST_BYTES, gram_join_side)
    from tests.conftest import SF001

    big = "abc def ghi " * (1 << 17)  # ~1.5 MiB of text per doc
    n_docs = 40  # 40 docs ~ 60 MB text >> 46 MB budget, << 150k docs
    assert n_docs * len(big) * GRAM_ROW_BCAST_BYTES \
        > BCAST_BUDGET_CAP
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), type=pa.int64()),
        "source": pa.array(["s"] * n_docs),
        "text": pa.array([big] * n_docs),
    }), str(tmp_path / "documents.parquet"))

    side = spark.range(1).select(F.col("id").alias("doc_b"))
    # keys= matches the stub's columns: this test probes the KNEE,
    # not the width guard — the missing-keys warning has its own
    # dedicated pytest.warns-style assertion below and must stay
    # the suite's only producer (r12 verdict optional #8)
    long_doc_plan = (gram_join_side(side, str(tmp_path),
                                    keys=("doc_b",))
                     ._jdf.queryExecution().logical().toString())
    assert "merge" in long_doc_plan, long_doc_plan
    assert "broadcast" not in long_doc_plan, long_doc_plan

    small_plan = (gram_join_side(side, SF001)
                  ._jdf.queryExecution().logical().toString())
    assert "broadcast" in small_plan, small_plan


def test_broadcast_budget_tracks_heap(spark):
    # VERDICT r07 #9: the broadcast budget must derive from the
    # session's actual heap, not a baked 8 GiB calibration.
    from energi_data_pipeline_spark.io import (
        BCAST_BUDGET_CAP, broadcast_budget_bytes)

    at_8g = broadcast_budget_bytes(spark, heap_bytes=8 << 30)
    at_1g = broadcast_budget_bytes(spark, heap_bytes=1 << 30)
    at_1t = broadcast_budget_bytes(spark, heap_bytes=1 << 40)
    assert at_8g == 1_500_000_000  # the measured-safe calibration
    assert at_1g == at_8g // 8     # proportional on smaller heaps
    assert at_1t == BCAST_BUDGET_CAP  # hard cap on huge heaps
    # the live session (8 GiB test heap) resolves to the calibration
    assert broadcast_budget_bytes(spark) == 1_500_000_000


def test_gram_knee_parameterized_over_heap(spark, tmp_path,
                                           monkeypatch):
    # VERDICT r07 #9 done-bar: the SAME corpus must broadcast on the
    # reference heap and refuse the broadcast on a small heap.  The
    # sf0.01 corpus's estimated gram mass (~150 KB text x 32 B/row
    # ~ 4.9 MB) sits between the 1.5 GB budget at 8 GiB and the
    # ~2.9 MB budget at a 16 MiB heap.
    import energi_data_pipeline_spark.io as io
    from pyspark.sql import functions as F

    from energi_data_pipeline_spark.queries.dedup import gram_join_side
    from tests.conftest import SF001

    side = spark.range(1).select(F.col("id").alias("doc_b"))

    monkeypatch.setattr(io, "jvm_heap_bytes", lambda s: 8 << 30)
    big_heap = (gram_join_side(side, SF001)
                ._jdf.queryExecution().logical().toString())
    assert "broadcast" in big_heap, big_heap

    monkeypatch.setattr(io, "jvm_heap_bytes", lambda s: 16 << 20)
    # keys= matches the stub (knee probe, not a width-guard test —
    # see test_gram_knee_long_docs)
    small_heap = (gram_join_side(side, SF001, keys=("doc_b",))
                  ._jdf.queryExecution().logical().toString())
    assert "merge" in small_heap, small_heap
    assert "broadcast" not in small_heap, small_heap


def test_gram_merge_width_scales_with_mass(spark, monkeypatch):
    # Round-8 rehearsal: at x100 the post-knee SMJ inherited the
    # session's 32 shuffle partitions and OOM'd the 8 GiB heap on
    # the containment pair stream; pinning the exchange to 256
    # ran to completion.  The shipped plan must therefore size the
    # merge exchange from estimated gram mass (512 MB of hashed
    # mass per partition -> 287 at the x100 point), and must leave
    # small post-knee corpora at the session's default parallelism.
    import energi_data_pipeline_spark.io as io
    from pyspark.sql import functions as F

    from energi_data_pipeline_spark.queries.dedup import gram_join_side
    from tests.conftest import SF001

    side = spark.range(4).select(
        F.col("id").alias("doc_b"),
        F.lit("s").alias("src_b"),
        F.col("id").alias("h_b"))

    # the x100 rehearsal point: 4.8 GB of text -> 153.6 GB hashed
    monkeypatch.setattr(io, "parquet_column_bytes",
                        lambda p, c: 4_800_000_000)
    plan = (gram_join_side(side, SF001)
            ._jdf.queryExecution().logical().toString())
    assert "merge" in plan, plan
    assert "RepartitionByExpression" in plan, plan
    assert ", 287" in plan, plan  # ceil(4.8e9*32 / 512 MiB)

    # just past the broadcast knee: width clamps to parallelism,
    # never below it
    monkeypatch.setattr(io, "parquet_column_bytes",
                        lambda p, c: 50_000_000)
    near = (gram_join_side(side, SF001)
            ._jdf.queryExecution().logical().toString())
    par = spark.sparkContext.defaultParallelism
    assert f"RepartitionByExpression [src_b" in near, near
    assert f", {par}" in near, near


def test_gram_merge_missing_keys_warns(spark, monkeypatch):
    # ADVICE r08: a post-knee build side WITHOUT the expected join
    # keys silently lost the width guard (the exact x100 OOM class);
    # it must now warn loudly so a real caller can't regress quietly.
    import warnings

    import energi_data_pipeline_spark.io as io
    from pyspark.sql import functions as F

    from energi_data_pipeline_spark.queries.dedup import gram_join_side
    from tests.conftest import SF001

    stub = spark.range(1).select(F.col("id").alias("doc_b"))
    monkeypatch.setattr(io, "parquet_column_bytes",
                        lambda p, c: 4_800_000_000)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        gram_join_side(stub, SF001)
    assert any("post-knee exchange width NOT applied" in str(x.message)
               for x in w), [str(x.message) for x in w]


def test_jvm_heap_is_min_of_driver_and_executor():
    # ADVICE r08 (medium): on a cluster the broadcast build side is
    # materialized on BOTH the driver (collect) and every executor,
    # so the budget must key on the SMALLER heap — 64g executors
    # with a 2g driver must budget against 2g.
    from energi_data_pipeline_spark.io import jvm_heap_bytes

    class FakeConf:
        def __init__(self, vals):
            self.vals = vals

        def get(self, k, d=None):
            return self.vals.get(k, d)

    class FakeSpark:
        def __init__(self, vals):
            self.conf = FakeConf(vals)

    cluster = FakeSpark({"spark.master": "yarn",
                         "spark.executor.memory": "64g",
                         "spark.driver.memory": "2g"})
    assert jvm_heap_bytes(cluster) == 2 << 30
    local = FakeSpark({"spark.master": "local[8]",
                       "spark.driver.memory": "8g"})
    assert jvm_heap_bytes(local) == 8 << 30
    bare = FakeSpark({"spark.master": "yarn"})
    assert jvm_heap_bytes(bare) == 1 << 30


def test_containment_slices_exact(spark):
    # Bounded-scratch execution: the gram self-join sliced into k
    # disjoint hash slices (pmod(h, k) == i on BOTH sides), partial
    # per-pair counts re-summed, must reproduce the unsliced result
    # EXACTLY — the join key includes h, so no cross-slice pair is
    # ever lost and no within-slice pair double-counts.  This is the
    # seam the x100 rehearsal uses to fit a >scratch-disk shuffle.
    from functools import reduce

    from pyspark.sql import functions as F

    from energi_data_pipeline_spark.queries.dedup import (
        containment_finish, containment_inter, dedup_containment)
    from tests.conftest import SF001

    whole = sorted(map(tuple, dedup_containment(spark, SF001)
                       .collect()))
    k = 3
    parts = [containment_inter(spark, SF001, slice_of=(i, k))
             for i in range(k)]
    merged = containment_finish(
        reduce(lambda x, y: x.unionByName(y), parts)
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.sum("n_common").alias("n_common")))
    sliced = sorted(map(tuple, merged.collect()))
    assert sliced == whole
    assert len(whole) > 0


def test_tfidf_query_join_strategy_knee(spark, monkeypatch):
    # The query-sided posting join broadcasts its stride-reduced
    # query side below the heap-derived budget (measured 3x faster
    # than unconditional shuffle_hash at sf0.1) and falls back to
    # shuffle-hash above it — never lets the planner broadcast the
    # full posting list.
    import energi_data_pipeline_spark.io as io
    from energi_data_pipeline_spark.queries.text import (
        tfidf_query_cosine)

    monkeypatch.setattr(io, "jvm_heap_bytes", lambda s: 8 << 30)
    plan = (tfidf_query_cosine(spark, SF, 50)
            ._jdf.queryExecution().logical().toString())
    assert "broadcast" in plan, plan
    spark.catalog.clearCache()

    # a heap so small even the sf0.001 query side exceeds the budget
    monkeypatch.setattr(io, "jvm_heap_bytes", lambda s: 1 << 10)
    plan = (tfidf_query_cosine(spark, SF, 50)
            ._jdf.queryExecution().logical().toString())
    assert "shuffle_hash" in plan, plan
    assert "broadcast" not in plan, plan
    spark.catalog.clearCache()


def test_tfidf_w_vocab_budget_degrade(spark, monkeypatch):
    # r16: _tfidf_w's document-frequency leg is a combine-aggregated
    # vocabulary broadcast-joined back UNDER the byte budget and left
    # to AQE past it — the two plans must produce bit-identical
    # weight tables (same dfq, same w, same nrm doubles: identical
    # expressions, different join plan only)
    from energi_data_pipeline_spark.queries.text import _tfidf_w
    from tests.conftest import SF001

    broad = sorted(map(tuple, _tfidf_w(spark, SF001).collect()))
    spark.catalog.clearCache()
    monkeypatch.setenv("SPARK_GRAFT_BCAST_BUDGET_BYTES", "1")
    past = sorted(map(tuple, _tfidf_w(spark, SF001).collect()))
    spark.catalog.clearCache()
    assert len(broad) > 0
    assert past == broad


def test_ivfpq_and_cells_broadcast_budget_degrade(spark, registry,
                                                  monkeypatch):
    # every budget gate (the cell side of simsearch._ivf_members,
    # qcell/cq in ivfpq, the TF-IDF vocabulary and query postings,
    # the BPE vocabulary, the gram-stream build side) must give the
    # same rows past the budget as under it
    from tests.conftest import SF0001

    for name in ("sims_ivfpq_ann", "dedup_semantic_cells",
                 "sims_ivf_ann", "text_tfidf_cosine_pairs",
                 "sims_hybrid_rrf", "text_bpe_apply_merges",
                 "dedup_ngram_jaccard"):
        base = sorted(map(tuple,
                          registry[name].fn(spark, SF0001).collect()))
        spark.catalog.clearCache()
        monkeypatch.setenv("SPARK_GRAFT_BCAST_BUDGET_BYTES", "1")
        degraded = sorted(map(tuple,
                              registry[name].fn(spark,
                                                SF0001).collect()))
        monkeypatch.delenv("SPARK_GRAFT_BCAST_BUDGET_BYTES")
        spark.catalog.clearCache()
        assert len(base) > 0, name
        assert degraded == base, name


def test_doc_id_unique_across_sources(spark):
    # ADVICE r07 invariant pin: _tfidf_w's df = COUNT(*) OVER
    # (PARTITION BY term) equals COUNT(DISTINCT doc_id) per term
    # only while no doc_id appears under two sources.  If the data
    # model ever changes, this fails loudly instead of silently
    # inflating every tf-idf weight.
    from pyspark.sql import functions as F

    from tests.conftest import SF001

    for sf in (SF, SF001):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        n_multi = (d.groupBy("doc_id")
                   .agg(F.count_distinct("source").alias("ns"))
                   .filter(F.col("ns") > 1).count())
        assert n_multi == 0, f"{sf}: {n_multi} doc_ids span sources"


def test_cte_chain_preaggregates_below_star_join(spark):
    # Round-9: both cte-chain twins collapse lineitem to per-orderkey
    # revenue BELOW the star join (exact decomposition; 20-30% faster
    # at every measured scale, SCALE_r09 §4).  Pin the shape: in the
    # OPTIMIZED plan an Aggregate on l_orderkey must sit beneath the
    # join, i.e. the join's lineitem input is aggregate output, not
    # the raw scan.
    from energi_data_pipeline_spark.queries import load_all

    reg = load_all()
    from tests.conftest import SF001

    for name in ("core_cte_chain", "core_cte_chain_fastsum"):
        df = reg[name].fn(spark, SF001)
        opt = (df._jdf.queryExecution().optimizedPlan().toString())
        # walk the plan text: the first Join (bottom-up: last in the
        # indented tree) must have an Aggregate[l_orderkey] below it
        assert "Aggregate [l_orderkey" in opt, (name, opt[:2000])
        agg_pos = opt.index("Aggregate [l_orderkey")
        # some Join node appears ABOVE (earlier in the string than)
        # the pre-aggregate — the aggregate feeds a join, not the
        # other way round
        assert "Join" in opt[:agg_pos], (name, opt[:2000])


def test_ann_lsh_plan_prunes_topk_in_window(spark):
    # Round-9 pin: the rank<=K filter must reach the window as a
    # WindowGroupLimit (per-partition top-k pruning BEFORE the full
    # sort materializes every bucket pair), and the bucket join must
    # be an equi-join (hash-partitionable at scale), not a nested
    # loop.
    from energi_data_pipeline_spark.queries import load_all

    reg = load_all()
    from tests.conftest import SF001

    df = reg["sims_ann_lsh_bucketed"].fn(spark, SF001)
    jvm = spark._jvm
    p = jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "WindowGroupLimit" in p, p[:2000]
    assert "BroadcastNestedLoopJoin" not in p, p[:2000]


def test_bpe_apply_broadcasts_vocab_not_corpus(spark, registry):
    """The BPE apply word join must build on the VOCAB side.  Left
    alone, the planner broadcast the exploded corpus token stream
    (the checkpointed vocab has no stats and parquet scan stats do
    not model explode fan-out) — a driver-OOM shape at any real
    corpus.  BuildRight = the vocab (right side of toks.join(vocab))
    is the broadcast build."""
    p = plan_of(spark, registry, "text_bpe_apply_merges")
    assert "BroadcastHashJoin Inner BuildRight" in p, p[:2000]


def test_bpe_heldout_broadcasts_vocab_not_corpus(spark, registry):
    """Same join-side pin for the held-out encode: the encoder table
    (trained vocab UNION the merge-applied delta) must be the build
    side of the corpus join, and the merge-rules fold must ride a
    one-row broadcast — never the exploded held-out token stream."""
    p = plan_of(spark, registry, "text_bpe_encode_heldout")
    assert "BroadcastHashJoin Inner BuildRight" in p, p[:2000]


#: entries whose plan legitimately explodes INSIDE a broadcast build
#: side (round-10 audit classification, re-verified round-11).  Every
#: row must be one of the documented bounded classes:
#:   bands   — constant-fanout band-struct explode (LSH banding,
#:             x nb<=4); size estimate grows with file bytes so the
#:             stock 10MB threshold demotes it naturally (validated
#:             by the x10/x100 rehearsal rows)
#:   quant   — bounded quantizer tables (IVF cells / PQ codebooks,
#:             sub-corpus by construction, same class as "cent")
#:   literal — literal-array / bounded-spine explode (salts, bin
#:             grids, time spines)
#:   block   — sims_cosine_topk_bruteforce's deliberate block
#:             replication (the query side must never broadcast)
EXPLODE_IN_BROADCAST_ALLOWLIST = {
    "dedup_minhash_lsh_pairs": "bands",
    "dedup_lsh_banding_sweep": "bands (three bandings, nb<=4)",
    "dedup_minhash_calibration": "bands",
    "dedup_simhash_pairs": "bands",
    "dedup_minhash_bbit": "bands",
    "mm_phash_near_dup": "bands",
    "curation_pipeline": "bands (composes lsh_pairs)",
    "curation_funnel_report": "bands (composes lsh_pairs)",
    "curation_split_leakage": "bands (composes lsh_pairs)",
    "curation_dataset_card": "bands (composes lsh_pairs)",
    "sims_cosine_topk_bruteforce": "block",
    "sims_knn_label_consistency": "block (composes bruteforce)",
    "sims_recall_eval": "block (composes bruteforce)",
    "sims_matryoshka_recall": "block (composes bruteforce)",
    "sims_pq_adc": "quant",
    "sims_pq_distortion": "quant",
    "sims_ivfpq_ann": "quant",
    "ext_range_join_binned": "literal (bin grid)",
    "ext_salted_join": "literal (salt array)",
    "ext_time_resample": "literal (time spine)",
}

_CARDINALITY_BARRIERS = {"HashAggregateExec", "ObjectHashAggregateExec",
                         "SortAggregateExec"}
_BCAST_JOINS = {"BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"}


def _explode_in_broadcast_hits(node, in_bcast=False, hits=None):
    """Count GenerateExec nodes on a broadcast JOIN BUILD SIDE with
    no cardinality-reducing aggregate between (walked on sparkPlan,
    which carries build-side info BEFORE exchange insertion — the
    exchange nodes themselves only appear in the executed plan)."""
    hits = hits if hits is not None else []
    name = node.getClass().getSimpleName()
    if name == "GenerateExec" and in_bcast:
        hits.append(name)
    ch = node.children()
    if name in _BCAST_JOINS:
        bi = 0 if str(node.buildSide().toString()) == "BuildLeft" else 1
        for i in range(ch.size()):
            _explode_in_broadcast_hits(
                ch.apply(i), in_bcast or i == bi, hits)
        return hits
    child_in = False if name in _CARDINALITY_BARRIERS else in_bcast
    for i in range(ch.size()):
        _explode_in_broadcast_hits(ch.apply(i), child_in, hits)
    return hits


def test_no_unguarded_broadcast_of_explode(spark, registry):
    """Round-11 (verdict #7): the round-10 one-off audit — every
    registry entry's physical plan scanned for an explode riding a
    broadcast build side — made permanent.  Parquet scan stats never
    model explode fan-out, so the planner happily broadcasts an
    exploded corpus stream whenever the source FILE is small (the
    round-10 BPE-apply BuildLeft bug: driver-OOM at any real
    corpus); any new hit must be classified onto the documented
    allowlist or fixed with an explicit join-side policy."""
    offenders = {}
    for name, qd in registry.items():
        try:
            df = qd.fn(spark, SF)
        except Exception as exc:  # surface build failures loudly
            offenders[name] = f"build error: {exc}"[:120]
            continue
        hits = _explode_in_broadcast_hits(
            df._jdf.queryExecution().sparkPlan())
        if hits and name not in EXPLODE_IN_BROADCAST_ALLOWLIST:
            offenders[name] = f"{len(hits)} explode(s) in broadcast"
        spark.catalog.clearCache()
    assert not offenders, offenders


def test_kmeans_magnitude_guard(spark, tmp_path, registry):
    # r12 ADVICE (+ r13 ADVICE: guard runs UNCONDITIONALLY on the
    # production path): the 1e8-scaled long accumulation in
    # sims_kmeans_lloyd is provably equal to the DECIMAL oracle only
    # while embedding components stay O(1); a rescaled corpus must
    # fail LOUDLY instead of drifting from the oracle in the last
    # bit — with no debug env var set.
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    sims_kmeans_lloyd = registry["sims_kmeans_lloyd"].fn

    dim = 8
    pq.write_table(pa.table({
        "vec_id": pa.array(range(6), type=pa.int64()),
        "embedding": pa.array([[1e6] * dim] * 6,
                              type=pa.list_(pa.float64())),
    }), str(tmp_path / "embeddings.parquet"))
    with pytest.raises(AssertionError, match="precondition violated"):
        sims_kmeans_lloyd(spark, str(tmp_path))
    # a failed corpus is never memoized as passed
    from energi_data_pipeline_spark.queries.simsearch import \
        _KMEANS_MAG_OK
    assert not any(k[0] == str(tmp_path) for k in _KMEANS_MAG_OK)
    spark.catalog.clearCache()
    # and the shipped corpora PASS the same check (bound holds)
    from tests.conftest import SF001
    assert sims_kmeans_lloyd(spark, SF001).count() > 0
    spark.catalog.clearCache()


def test_kmeans_magnitude_memo_invalidates_on_rewrite(
        spark, tmp_path, registry):
    # r14 ADVICE: the guard memo is keyed on the corpus FILE
    # fingerprint, not the path — a corpus rewritten in place (tmp
    # dir reuse, refreshed corpus in a long-lived service) must
    # re-earn its green reading instead of silently skipping the
    # guard it was made unconditional to enforce
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    sims_kmeans_lloyd = registry["sims_kmeans_lloyd"].fn
    dim = 8
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(6), type=pa.int64()),
        "embedding": pa.array([[0.5] * dim] * 6,
                              type=pa.list_(pa.float64())),
    }), path)
    assert sims_kmeans_lloyd(spark, str(tmp_path)).count() > 0
    spark.catalog.clearCache()
    from energi_data_pipeline_spark.queries.simsearch import \
        _KMEANS_MAG_OK
    assert any(k[0] == str(tmp_path) for k in _KMEANS_MAG_OK)
    _time.sleep(0.01)  # mtime_ns must move even on coarse clocks
    pq.write_table(pa.table({
        "vec_id": pa.array(range(6), type=pa.int64()),
        "embedding": pa.array([[1e6] * dim] * 6,
                              type=pa.list_(pa.float64())),
    }), path)
    with pytest.raises(AssertionError, match="precondition violated"):
        sims_kmeans_lloyd(spark, str(tmp_path))
    spark.catalog.clearCache()


def test_stream_batch_broadcast_budget_gate(spark):
    # r12 ADVICE: the index streams' batch-side hints must be gated
    # on a heap-derived byte budget, not on "a trigger is one file".
    # Under budget: hint present (index side stays scan-only);
    # over budget: NO hint — AQE's runtime sizes decide.
    from pyspark.sql import functions as F

    from energi_data_pipeline_spark.io import broadcast_within_budget

    side = spark.range(10).select(F.col("id").alias("vec_id"))
    under = (broadcast_within_budget(side, 10 * 100)
             ._jdf.queryExecution().logical().toString())
    assert "broadcast" in under.lower(), under
    over = (broadcast_within_budget(side, 1 << 62)
            ._jdf.queryExecution().logical().toString())
    assert "broadcast" not in over.lower(), over


def test_est_row_bytes_tracks_schema(spark):
    # r13 ADVICE: broadcast byte estimates must derive from the
    # actual row schema, not per-call-site constants — widening the
    # schema must widen the estimate with no call-site edit.
    from pyspark.sql import functions as F

    from energi_data_pipeline_spark.queries.streaming import \
        _VAR_WIDTH_DEFAULT_BYTES, _est_row_bytes

    base = spark.range(1).select(F.col("id").alias("doc_id"))
    b0 = _est_row_bytes(base)
    assert b0 == 16 + 8  # overhead + one long
    widened = base.withColumn("key", F.md5(F.col("doc_id")
                                           .cast("string")))
    assert _est_row_bytes(widened) == b0 + _VAR_WIDTH_DEFAULT_BYTES
    flagged = base.withColumn("dup", F.lit(True))
    assert _est_row_bytes(flagged) == b0 + 1
    # caller-known variable width beats the default
    arr = base.withColumn("embedding",
                          F.array(*[F.lit(0.0)] * 4))
    assert _est_row_bytes(arr, {"embedding": 4 * 8}) == b0 + 32


def test_flag_batch_members_budget_gate_same_result(spark):
    # the shared verdict-flag join of both index streams: hint gated
    # on batch cardinality; results identical on either side of the
    # knee (the gate changes the PLAN, never the relation)
    from pyspark.sql import functions as F

    from energi_data_pipeline_spark.queries.streaming import \
        _flag_batch_members

    ids = spark.range(5).select(F.col("id").alias("vec_id"))
    mem = spark.range(2).select(F.col("id").alias("vec_id"))
    small = _flag_batch_members(ids, mem, "vec_id", "dup", 5)
    plan_s = small._jdf.queryExecution().logical().toString()
    assert "broadcast" in plan_s.lower(), plan_s
    big = _flag_batch_members(ids, mem, "vec_id", "dup", 1 << 58)
    plan_b = big._jdf.queryExecution().logical().toString()
    assert "broadcast" not in plan_b.lower(), plan_b
    assert sorted(map(tuple, small.collect())) \
        == sorted(map(tuple, big.collect()))
