"""Query/oracle registry backing the driver contract in ``__spark_entry__.py``.

Every operator from SURVEY.md §2.2 registers here: a PySpark callable
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) the equivalent
DuckDB oracle SQL. The driver compares row count + schema + order-insensitive
value hash, so every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[["SparkSession", str], "DataFrame"]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is DuckDB SQL over the driver's
    pre-registered views (region nation customer supplier part orders
    lineitem events documents embeddings). Omit ``oracle`` for ops that are
    not SQL-expressible (driver then records a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Absolute head of round 13's verification order: every op whose code or
# oracle changed in r13, plus the brand-new r13 ops. Kept MINIMAL on
# purpose (r10 verdict item 1, re-affirmed r11/r12): 50 driver slots −
# 8 head = 42, which covers the ENTIRE 42-op r8 evidence tail exactly —
# after this round no op's latest green is older than r9.
_VERIFY_HEAD = (
    # r13: impl changed — the final component-sizes join side now rides
    # the same CC_BROADCAST_MAX_NODES dial as the label vector (the r12
    # `weak`: sizes is Θ(|V|) rows worst case, an ungated broadcast OOMs
    # at the 1e9-node target)
    "graph_connected_components",
    # r13: impl changed — composite frame id decomposed with shiftright
    # instead of double division (exact at all long magnitudes; ADVICE)
    "multimodal_dedup_video",
    # r13: impl changed — moments/z-tail refactored into the shared
    # anomaly_moments/zscore_flags helpers the streaming twin reuses
    # (same expressions, but the definition moved → re-verify)
    "events_anomaly_zscore",
    # r13: new op — streaming twin of events_anomaly_zscore (additive
    # per-type DECIMAL moment sums as native update-mode aggregates,
    # max_by(n) fold, shared z-flag tree)
    "stream_anomaly_zscore",
    # r13: new op — iterative k-core peeling of the co-purchase graph
    # (CC loop shape: bounded supersteps, loud guard, unrolled
    # MATERIALIZED-CTE oracle)
    "graph_k_core",
    # r13: impl changed — the Lloyd training loop moved into the shared
    # _lloyd_centroids helper embed_dedup_semantic composes (same
    # expressions, but the definition moved → re-verify)
    "ann_ivf_learned",
    # r13: new op — SemDeDup-style semantic dedup over the learned IVF
    # cells (anchor-bounded in-cell cosine election, keep-first keeper)
    "embed_dedup_semantic",
    # r13: new op — Newman modularity of the LPA partition (per-community
    # e_c/m − (d_c/2m)² contributions)
    "graph_modularity",
)


# The budgeted walk (50 driver slots per round) then refreshes the OLDEST
# evidence first. Round 12's 50 slots covered its 5-op head + the entire
# 45-op r7 evidence tail; those carry r12-fresh evidence (_R12_GREEN,
# minus the ops redefined in this round's head). The oldest remaining
# evidence is r8 (42 ops), then r9.
# r8 greens — the full 50-op CORRECTNESS_r08 key set (r8's 8-op head, all
# 12 r3-era greens, and the first 30 r4 ops), minus the ops since
# redefined (r9's five; r10 additionally pulls stream_stream_join and
# stream_stream_left_join into its head).
_R8_GREEN = (
    "scan_binary", "bm25_topk", "join_anti", "dedup_exact",
    "dedup_ngram_jaccard", "sim_topk", "embed_knn", "text_stats",
    "lang_id", "token_count", "quality_score", "doc_fingerprint",
    "text_normalize", "text_embed_hash", "agg_quantiles",
    "agg_approx_quantiles", "channel_params", "join_asof", "map_ops",
    "scan_schema_evolution", "sink_compacted", "cdc_encode_decode",
    "except_distinct", "scan_partition_pruned",
    "dedup_minhash", "dedup_clusters", "dedup_embedding_exact",
    "pipeline_end_to_end", "scan_stream", "sink_parquet", "sink_memory",
    "filter_channel", "rpc_first_response", "rpc_first_response_processed",
    "agg_avg", "agg_min_max", "win_lag_lead", "win_running", "union_all",
    "union_distinct", "intersect", "json_extract",
)
# r9 greens — the full 50-op CORRECTNESS_r09 key set (r9's 14-op head,
# all 7 remaining r4-era greens, and the first 29 r5 ops), minus the ops
# redefined in this round's head. Freshest evidence, verified last.
_R9_GREEN = (
    "stream_topk", "curation_funnel", "stream_watermark",
    "stream_bounded_subscription", "cdc_upsert_latest", "cdc_changelog",
    "cdc_scd2", "fanout_dispatch", "bounded_subscription",
    "ann_lsh_topk", "scan_orc", "dedup_embedding_banded", "udtf_tokens",
    "dedup_substring", "split_leakage_report", "q6_forecast_revenue",
    "q9_nation_revenue", "q14_promo_effect", "q18_large_volume",
    "q4_order_priority", "q7_volume_shipping", "q8_market_share",
    "q13_customer_distribution", "q15_top_supplier", "q17_small_quantity",
    "q19_disjunctive_revenue", "q21_waiting_supplier",
    "q22_sales_opportunity", "q2_min_cost_supplier", "q11_important_stock",
    "q16_supplier_count", "q20_excess_stock", "retention_cohorts",
    "decontaminate_containment", "bpe_pair_stats", "win_range_frame",
    "unpivot_melt",
)
# r10 greens — the full 50-op CORRECTNESS_r10 key set (r10's 25-op head,
# all 12 remaining r5-era greens, and the first 13 r6 ops), minus the
# EIGHT ops r11's head pulled for re-verification (nats_roundtrip,
# stream_dedup_incremental, graph_pagerank, graph_triangles,
# graph_jaccard_neighbors, events_ab_lift, ann_ivf_learned, ann_ivf_topk
# — they sit in _R11_GREEN now; ADVICE r11 item 2 fixed the count here)
# and minus events_anomaly_zscore (redefined in r13's head: its moment/
# z-tail expressions moved into the shared helpers the streaming twin
# reuses).
_R10_GREEN = (
    "stream_cdc_column_diff",
    "stream_rpc_state", "stream_join_asof_nearest", "stream_tumble",
    "stream_slide", "stream_session", "stream_dedup", "stream_upsert",
    "stream_scd2", "stream_downsample_ohlc", "stream_stream_join",
    "stream_stream_left_join", "ann_pq_topk", "join_interval_overlap",
    "multimodal_dedup", "stream_funnel", "embed_pca_power",
    "agg_mode", "downsample_ohlc", "dedup_span", "agg_count", "agg_cube",
    "agg_distinct", "agg_grouping_sets", "agg_multi", "agg_pivot",
    "agg_rollup", "agg_stats", "agg_sum", "q12_late_priority",
    "sessionize_events", "funnel_conversion", "agg_corr", "join_range",
    "q5_local_supplier_volume", "dedup_embedding_cosine", "join_bucketed",
    "perplexity_bucket", "tfidf_topk_terms",
    "quality_classifier_linear", "dedup_incremental",
)
# r11 greens — the full 50-op CORRECTNESS_r11 key set (r11's 11-op head,
# the entire 35-op r6 evidence tail, and the first 4 r7 ops), minus
# multimodal_dedup_perceptual (redefined in r12's head: pair-of-bands
# banding) and minus ann_ivf_learned (redefined in r13's head: the Lloyd
# trainer moved into the shared _lloyd_centroids helper).
_R11_GREEN = (
    "nats_roundtrip", "stream_dedup_incremental", "graph_pagerank",
    "graph_triangles", "graph_jaccard_neighbors", "graph_label_propagation",
    "stream_ab_lift", "events_ab_lift", "ann_ivf_topk",
    "doc_chunk_overlap", "layout_zorder", "agg_weighted_avg",
    "agg_string_agg", "orders_rfm_segments", "events_transition_matrix",
    "rolling_active_users", "agg_histogram", "source_dup_rate",
    "ngram_novelty_curve", "source_overlap_matrix", "lang_confusion_matrix",
    "seq_len_histogram", "embed_label_centroids", "funnel_latency_stats",
    "knn_label_purity", "events_hourly_cusum", "orders_market_basket",
    "dedup_minhash_calibration", "embed_drift_by_batch", "orders_cohort_ltv",
    "events_user_concentration", "embed_recall_at_k",
    "events_inactivity_churn", "date_ops", "filter_predicate", "join_cross",
    "join_full", "join_inner", "join_left", "join_right", "join_semi",
    "join_skew_salted", "join_theta", "json_schema_projection",
    "collocation_lift_topk", "dedup_bloom_prefilter",
    "dsir_importance_weights", "events_weekly_stickiness",
)
# r12 greens — the full 50-op CORRECTNESS_r12 key set (r12's 5-op head
# plus the ENTIRE 45-op r7 evidence tail it refreshed), minus
# graph_connected_components and multimodal_dedup_video, which are
# redefined in this round's head (sizes-broadcast gate; shiftright id
# decomposition). Freshest evidence, verified last.
_R12_GREEN = (
    "dedup_simhash", "multimodal_dedup_perceptual", "stream_retention_cohorts",
    "parts_pareto_abc", "doc_rarity_score", "join_asof_nearest",
    "cdc_column_diff", "dedup_edit_distance", "events_session_paths_topk",
    "limit", "math_ops", "project",
    "q1_pricing_summary", "q3_shipping_priority", "sort", "str_ops",
    "topk", "topk_per_group", "win_frame_sliding", "win_percent",
    "win_rank",
    "multimodal_meta", "multimodal_frame_sample", "multimodal_features",
    "multimodal_resize", "udf_scalar", "udf_grouped", "udf_grouped_agg",
    "scan_parquet", "scan_csv",
    "agg_approx_distinct", "scan_json",
    "train_val_split", "sample_stratified", "quality_filter_gopher",
    "topk_ngrams", "decontaminate_ngram", "repetition_ratio", "pii_redact",
    "corpus_vocab_stats", "sample_temperature",
    "corpus_mix_report", "corpus_shuffle", "pack_sequences",
    "embed_norm_quantize", "q10_returned_items", "win_ntile", "array_ops",
)


def load_all() -> None:
    """Import every operator module so registrations run, then order the
    registry for the driver's budgeted walk (50 verification slots per
    round, head first): round-13-redefined/new ops, then any unlisted op,
    then proven greens oldest-evidence-first (r8 → r9 → r10 → r11 → r12)."""
    from .operators import (  # noqa: F401
        dedup,
        similarity,
        text,
        multimodal,
        udfs,
        sinks,
        asof,
        envelope,
        cdc,
    )
    from . import streaming  # noqa: F401
    from .operators import (  # noqa: F401
        analytics,
        flagships,
        functions_pack,
        graph,
        pipeline,
        relational,
        window,
    )
    listed = (
        set(_VERIFY_HEAD)
        | set(_R8_GREEN)
        | set(_R9_GREEN)
        | set(_R10_GREEN)
        | set(_R11_GREEN)
        | set(_R12_GREEN)
    )
    blocks = (
        _VERIFY_HEAD,
        # Safety net: an op listed NOWHERE has no recorded status and must
        # be verified before any green re-verification burns its slot —
        # a future round that registers an op but forgets the head list
        # still gets it verified (and test_survey_inventory flags it).
        tuple(n for n in QUERIES if n not in listed),
        _R8_GREEN,
        _R9_GREEN,
        _R10_GREEN,
        _R11_GREEN,
        _R12_GREEN,
    )
    ordered: list[str] = []
    for block in blocks:
        for n in block:
            if n in QUERIES and n not in ordered:
                ordered.append(n)
    reordered = {n: QUERIES[n] for n in ordered}
    QUERIES.clear()
    QUERIES.update(reordered)
