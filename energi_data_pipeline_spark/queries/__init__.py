"""Oracle-paired query catalog.

Every operator from SURVEY.md §2 (plus the LLM-pipeline extension
operators) is exposed here as a named query: a PySpark DataFrame
implementation and, where SQL-expressible, a semantically identical
ANSI-SQL oracle that DuckDB runs over the same parquet tables.  The
driver hash-compares the two at sf0.01 — this registry IS the
correctness surface.

Float-determinism conventions (so value-hashes match bit-for-bit):

* per-row arithmetic (+,*,/ of doubles) is IEEE-deterministic in
  both engines — left unrounded;
* SUM/AVG over groups goes through ``DECIMAL(38,10)`` accumulation
  (exact, order-independent) and is cast back to DOUBLE;
* window/stddev/cosine results (order-dependent accumulation with
  ~1e-15 jitter) are rounded to 6 decimals on BOTH sides;
* EXTRACT-style ints are cast to INT explicitly on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None -> rows-only check (non-SQL-expressible)


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None):
    """Register a (spark_fn, oracle_sql) pair."""

    def deco(fn):
        REGISTRY[name] = QueryDef(name, fn, oracle)
        return fn

    return deco


#: Corpus-size ceilings (embeddings row count) above which a query's
#: STATIC oracle SQL stops matching its corpus-ADAPTIVE Spark plan:
#: the Spark side derives index fan-outs (LSH planes, IVF centroid
#: stride, PQ codebook stride) from corpus cardinality, while the
#: oracle bakes the test-scale floor value at import time.  Below
#: the knee both agree bit-for-bit; past it a parity run would
#: compare different index geometries and fail with opaque row
#: mismatches — the harness consults this map to fail LOUDLY
#: instead.  Production correctness is unaffected: the Spark plan is
#: the right one at every scale, only the differential-test oracle
#: has a validity range.
ORACLE_SCALE_KNEES: dict[str, tuple[str, int, str | None]] = {}


def register_oracle_knee(name: str, max_corpus: int,
                         table: str = "embeddings",
                         column: str | None = None) -> None:
    """``column=None``: knee on the table's ROW count.  With a
    column name the knee is on that column's LOGICAL BYTES (footer
    estimate) — for knobs that scale with data MASS, not
    cardinality (the r06 gram-broadcast lesson: a corpus of few
    huge docs must trip a mass-keyed knee)."""
    ORACLE_SCALE_KNEES[name] = (table, max_corpus, column)


def oracle_scale_guard(name: str, sf_dir: str) -> str | None:
    """Return an explanation if ``name``'s oracle is NOT valid for
    the corpus at ``sf_dir`` (corpus past the adaptive-knob knee),
    else None.  Parity harnesses call this before comparing."""
    import os

    if name not in ORACLE_SCALE_KNEES:
        return None
    table, knee, column = ORACLE_SCALE_KNEES[name]
    from ..io import parquet_column_bytes, parquet_row_count

    path = os.path.join(sf_dir, f"{table}.parquet")
    if column is None:
        n, unit = parquet_row_count(path), "rows"
    else:
        n, unit = parquet_column_bytes(path, column), \
            f"bytes of {column}"
    if n <= knee:
        return None
    return (f"oracle for {name!r} is only valid up to {knee} "
            f"{table} {unit} (corpus at {sf_dir} has {n}): the "
            f"Spark plan scales its index fan-out past this knee "
            f"while the static oracle SQL does not — parity must be "
            f"checked at a test SF below the knee")


#: registry entries the external driver has ALREADY hash-verified
#: (CORRECTNESS_r01 + r02 cover the first 50 registry entries of
#: those rounds; CORRECTNESS_r03 covers the 50 that the round-3
#: front window promoted — all 50 green).  The driver checks only
#: the first 50 of load_all()'s order, so entries NOT in this set
#: are promoted to the front until every query has carried a
#: driver-issued green row at least once.  Module import order
#: cannot express this (every query module imports .core, which
#: registers first), hence the explicit partition here.
_DRIVER_VERIFIED = frozenset({
    "core_watermark_max", "core_filter_range_notnull",
    "core_project_rename_arith", "core_dim_time",
    "core_insert_if_absent", "core_stats_count_min_max",
    "core_join_fact_dim", "core_derived_ratio_guards",
    "core_moving_avg_5row", "core_moving_avg_partitioned",
    "core_moving_avg_bucket_parallel", "core_moving_avg_grouped_scaled",
    "core_incremental_window", "core_distinct", "core_ordered_export",
    "core_groupby_agg", "core_cte_chain", "core_merge_upsert",
    "gold_events_full", "dedup_exact",
    "dedup_minhash_signature", "dedup_minhash_lsh_pairs",
    "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_connected_components", "dedup_connected_components_star",
    "dedup_embedding_cosine", "text_token_stats",
    "text_quality_score", "text_lang_id", "text_fingerprint",
    "text_chunking", "text_tfidf_top_terms", "text_pii_redact",
    "text_bigram_freq", "text_bpe_token_count", "text_stopword_ratio",
    "text_char_entropy", "sims_cosine_topk_bruteforce",
    "sims_ann_lsh_bucketed", "sims_ivf_ann",
    # sims_quantize_int8 is deliberately ABSENT: its r02 row was an
    # err (driver canonicalizer vs array<int> output) — after the
    # scalar-output fix it must earn a fresh driver-green row, so it
    # stays in the promoted front window.
    "stream_tumbling_window", "stream_sliding_window",
    "stream_static_join", "stream_sessionization",
    "stream_dedup_watermark", "stream_stream_join",
    "sessionization_batch", "mm_binary_metadata",
    # --- CORRECTNESS_r03 green rows (all 50 of the round-3 window,
    # including sims_quantize_int8's fresh row after the scalar-output
    # fix) ---
    "sims_quantize_int8", "mm_frame_sample", "mm_decode_features",
    "mm_resize_stride", "mm_audio_rms", "ext_asof_join",
    "ext_asof_join_forward", "ext_range_join_binned",
    "ext_rollup_lineitem", "ext_set_ops", "ext_json_extract",
    "ext_percentiles", "ext_ranking_topk", "ext_pivot_event_counts",
    "ext_count_distinct", "ext_array_stats", "ext_corr_stats",
    "ext_salted_join", "ext_cube_grouping", "ext_exists_semi_anti",
    "ext_scalar_subquery", "ext_window_running",
    "ext_window_range_interval", "ext_time_resample", "ext_funnel",
    "ext_cohort_retention", "ext_arg_extremes", "ext_filtered_agg",
    "ext_dq_checks", "ext_latest_per_key", "ext_sequence_match",
    "ext_scd2_intervals", "ext_histogram", "ext_unpivot_long",
    "ext_interval_overlap", "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority", "tpch_q5_local_supplier",
    "tpch_q10_returned_items", "tpch_q6_forecast_revenue",
    "tpch_q14_promo_effect", "tpch_q17_small_qty_revenue",
    "tpch_q18_large_volume_customer", "tpch_q4_order_priority",
    "tpch_q7_volume_shipping", "tpch_q13_customer_distribution",
    "tpch_q22_global_sales_opportunity", "tpch_q8_national_market_share",
    "tpch_q15_top_supplier", "curation_pipeline",
    # --- CORRECTNESS_r04 green rows (all 50 of the round-4 window) ---
    "text_repetition_score", "text_langid_agreement",
    "text_unigram_logprob", "text_duplicate_spans",
    "text_bigram_logprob", "text_zipf_slope", "text_vocab_coverage",
    "text_blocklist_filter", "dedup_incremental_exact",
    "dedup_cluster_keep_best", "dedup_containment",
    "dedup_cluster_size_histogram", "dedup_minhash_calibration",
    "dedup_simhash_pairs", "dedup_lsh_banding_sweep",
    "sims_knn_label_consistency", "sims_pq_adc",
    "sims_label_centroid_margin", "sims_recall_eval",
    "sims_bucket_balance", "dedup_incremental_embedding",
    "sims_ivf_multiprobe", "sims_pq_distortion", "sims_range_search",
    "sims_embedding_drift", "sims_norm_stats", "sims_cosine_histogram",
    "stream_topk_per_window", "stream_latest_state",
    "stream_stream_left_outer", "stream_session_window_builtin",
    "stream_tumbling_append_finalized", "mm_phash_near_dup",
    "mm_format_stats", "mm_content_defined_chunks",
    "mm_embed_documents", "pipeline_text_to_ann", "mm_frame_dedup",
    "mm_audio_silence", "ext_asof_join_tolerance", "ext_outlier_mad",
    "ext_skew_stats", "ext_reaggregate_partials", "ext_mode_per_group",
    "ext_string_agg_ordered", "ext_ntile_deciles", "ext_snapshot_diff",
    "ext_nth_value_frames", "ext_rfm_segmentation",
    "ext_cumulative_distinct",
    # --- CORRECTNESS_r05 green rows (all 50 of the round-5 window:
    # the 42 pinned never-verified entries plus the 8 round-5
    # additions; core_watermark_max was re-verified) ---
    "text_hapax_ratio", "text_tfidf_cosine_pairs",
    "dedup_minhash_bbit", "sims_matryoshka_recall",
    "sims_dim_variance", "dedup_semantic_cells", "sims_ivfpq_ann",
    "sims_kmeans_lloyd", "stream_incremental_lsh_dedup",
    "stream_incremental_embedding_index", "mm_scene_cuts",
    "ext_mom_growth", "ext_cdc_apply", "ext_benford_audit",
    "ext_pareto_share", "ext_event_transition_matrix",
    "ext_histogram_log_bins", "ext_rolling_active_users",
    "ext_market_basket_pairs", "ext_association_rules",
    "ext_reorder_gap", "ext_activity_streaks",
    "ext_seasonality_profile", "ext_gap_fill_linear",
    "ext_top_percent_per_group", "ext_null_profile",
    "ext_categorical_drift", "ext_running_drawdown",
    "ext_dq_quarantine", "curation_dataset_split",
    "curation_decontaminate", "curation_sequence_pack",
    "curation_mixture_sample", "curation_funnel_report",
    "curation_quota_sample", "curation_dup_rate_by_source",
    "curation_split_leakage", "curation_source_league",
    "curation_token_budget", "curation_shard_manifest",
    "curation_gate_overlap", "curation_dataset_card",
    "core_groupby_agg_fastsum", "core_cte_chain_fastsum",
    "text_bpe_learn_merges", "text_bpe_apply_merges", "sims_hybrid_rrf",
    "mm_png_header_parse", "mm_wav_header_parse",
    "ext_pagerank_power",
    # --- CORRECTNESS_r06 green rows (the 8 round-6 additions; the
    # other 42 rows of the r06 window were re-verifications of
    # already-listed names) ---
    "dedup_exact_substring_spans", "sketch_hll_distinct",
    "sketch_kmv_distinct", "sketch_countmin_heavy_hitters",
    "sketch_bloom_semijoin", "curation_quality_classifier",
    "curation_classifier_gate", "curation_weighted_sample",
    # --- CORRECTNESS_r11 green rows (round-11 rotation: all 12 r11
    # pins plus the two brand-new entries landed green, r11 window
    # 50/50 zero err) ---
    "text_bpe_learn_merges", "text_bpe_apply_merges",
    "text_bpe_encode_heldout", "ext_association_rules",
    "ext_market_basket_pairs", "curation_gate_overlap",
    "curation_cluster_representatives",
})


#: The round-6 driver window: after CORRECTNESS_r05 every one of the
#: 198 registry entries has carried a driver-issued green row
#: (r01∪r02∪r03∪r04∪r05), so the pinned window is EMPTY — any query
#: added in round 6+ is automatically unverified, sorts into the
#: (1, 0) bucket of load_all()'s order (ahead of the verified
#: backlog, behind this window), and therefore lands inside the
#: driver's first-50 verify slice the round it is added.
#:
#: Since round 8 this window tracks CHANGED CODE — every entry whose
#: implementation OR transitively-shared helper was modified this
#: round is pinned here so the driver re-verifies it ahead of the
#: green backlog.  Convention: touching a query or helper => add
#: every consuming registry entry to this tuple; clear/rebuild the
#: tuple at the start of the next round once its CORRECTNESS rows
#: land green.  ROUND-12 ROTATION: all 11 r11 pins plus the two new
#: entries landed green in CORRECTNESS_r11 (50/50, zero err);
#: promoted into _DRIVER_VERIFIED.  The window now pins the
#: round-12 touched entries.
#: entries whose implementation or a transitively-shared helper was
#: REWRITTEN this round — the r08+ convention: changed code gets a
#: fresh driver row before the green backlog, even when pytest and
#: driver_sim already cover it (review r14: the first draft of this
#: rotation mislabeled the CC convergence rewrite as "does not alter
#: results" and rotated its consumers out of the window).
_VERIFY_CHANGED_PINS: tuple[str, ...] = (
    # the MinHash-LSH kernel (dedup.minhash_signatures / band_long /
    # candidate_pairs, exact array<bigint> band keys) replaced the
    # signing and banding of every entry below; the CC consumers also
    # lost the broad handler around operators.graph's checkpoint-dir
    # check
    "dedup_minhash_signature", "dedup_minhash_lsh_pairs",
    "dedup_lsh_banding_sweep", "dedup_minhash_calibration",
    "dedup_minhash_bbit", "dedup_connected_components",
    "dedup_connected_components_star", "dedup_cluster_keep_best",
    "dedup_cluster_size_histogram", "curation_pipeline",
    "curation_funnel_report", "curation_split_leakage",
    "curation_dataset_card", "curation_cluster_representatives",
    "stream_incremental_lsh_dedup",
    # lost its eager count and its token cache (its consumer
    # curation_funnel_report is pinned above)
    "curation_decontaminate",
    # the embedding family's primitives (simsearch._cosine, the IVF
    # cells/members and the PQ codes) replaced every copied cosine,
    # cell assignment and code assignment below, including the
    # composed entries and the streaming and multimodal cosines
    "sims_cosine_topk_bruteforce", "sims_ann_lsh_bucketed",
    "dedup_embedding_cosine", "sims_ivf_ann",
    "sims_knn_label_consistency", "sims_pq_adc",
    "sims_label_centroid_margin", "sims_recall_eval",
    "dedup_incremental_embedding", "sims_ivf_multiprobe",
    "sims_pq_distortion", "sims_range_search", "sims_embedding_drift",
    "sims_cosine_histogram", "sims_matryoshka_recall",
    "dedup_semantic_cells", "sims_ivfpq_ann", "sims_hybrid_rrf",
    "stream_incremental_embedding_index", "pipeline_text_to_ann",
)

_VERIFY_FRONT_WINDOW: tuple[str, ...] = _VERIFY_CHANGED_PINS + (
    # After the 36 changed-code pins above, the window fills with the
    # 14 STALEST entries by newest green CORRECTNESS_r* row (oldest
    # round, then name): the head of the r05 backlog.
    "curation_mixture_sample",
    "curation_quota_sample",
    "curation_sequence_pack",
    "curation_shard_manifest",
    "curation_source_league",
    "curation_token_budget",
    "ext_activity_streaks",
    "ext_benford_audit",
    "ext_categorical_drift",
    "ext_cdc_apply",
    "ext_dq_quarantine",
    "ext_event_transition_matrix",
    "ext_gap_fill_linear",
    "ext_histogram_log_bins",
)


def load_all() -> dict[str, QueryDef]:
    """Import all query modules and return the populated registry:
    the pinned never-driver-verified window first, then any other
    not-yet-verified entries (new additions), then the verified
    backlog (see _DRIVER_VERIFIED / _VERIFY_FRONT_WINDOW)."""
    from . import core  # noqa: F401
    from . import gold_energy  # noqa: F401
    from . import dedup  # noqa: F401
    from . import text  # noqa: F401
    from . import simsearch  # noqa: F401
    from . import streaming  # noqa: F401
    from . import multimodal  # noqa: F401
    from . import asof  # noqa: F401
    from . import relational_ext  # noqa: F401
    from . import tpch  # noqa: F401
    from . import sketches  # noqa: F401
    from . import curation  # noqa: F401  (composes dedup+text -> last)
    front = {n: i for i, n in enumerate(_VERIFY_FRONT_WINDOW)}
    ordered = sorted(REGISTRY, key=lambda n: (
        (0, front[n]) if n in front else
        (1, 0) if n not in _DRIVER_VERIFIED else (2, 0)))
    return {n: REGISTRY[n] for n in ordered}
