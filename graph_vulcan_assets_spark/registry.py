"""Declarative query registry.

Every operator from SURVEY.md §2 registers itself here with an optional
DuckDB oracle SQL string. ``__spark_entry__.queries()`` / ``oracle_sql()``
are thin views over this registry.

Contract (driver t2): the Spark callable and the oracle SQL must produce the
same row multiset with the same column names — every computed column is
aliased identically on both sides, and floating aggregates are rounded the
same way on both sides to absorb summation-order differences.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` marks a rows-only check."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    import graph_vulcan_assets_spark.operators  # noqa: F401
    import graph_vulcan_assets_spark.functions  # noqa: F401
    import graph_vulcan_assets_spark.plans  # noqa: F401
    import graph_vulcan_assets_spark.llm  # noqa: F401
    import graph_vulcan_assets_spark.sources.readers  # noqa: F401
    import graph_vulcan_assets_spark.streaming.stateful  # noqa: F401


# Exposure order for ``queries()`` / ``oracle_sql()``. The driver runs its
# 50-entry correctness budget over queries in iteration order, so each round
# rotates the highest-value checks to the front (round-2 verdict item #1:
# budget rotation, not code). Round-13 order, standing rule
# (module-changed-since-last-driver-row, evidence age):
#
#   positions 1-5  = the round-13 CHURN: every oracle-bearing query whose
#                    Spark side was restructured by this OPTIMIZATION
#                    round (results proven identical via check_subset +
#                    full driver_sim + hostile probe before commit;
#                    oracles unchanged): the fused-update vector family
#                    (q_kmeans_assign, q_pq_codes — map-only Lloyd
#                    updates, lazy quantize checkpoint), the driver-LUT
#                    ADC scorer (q_pq_adc_topk), the chunked-Gram
#                    SemDeDup kernel (q_dedup_semantic), and the
#                    restructured BPE train feeding q_bpe_pairs'
#                    pair-count path.
#   positions 6-50 = the oracle-bearing inventory, OLDEST driver
#                    evidence first (CORRECTNESS_r01..r12): all 38
#                    remaining r9-era keys, then the oldest r10-era
#                    keys. After this round's driver run no r9-era
#                    latest rows remain in the first 50.
#   positions 51+  = r10/r11/r12 remainder oldest-first, then the
#                    rows-only (no-oracle) keys — loses nothing if the
#                    fixed-size budget cuts off.
# The driver-evidence horizon this PRIORITY was computed from: the
# rotation above ranks keys by their latest green row in
# CORRECTNESS_r01..r{this}. Bump it together with every rotation — the
# contract test judges the order against exactly this evidence set, so
# a CORRECTNESS file the rotation could not have seen (written by the
# driver after the rotation) does not red the staleness invariants.
ROTATION_EVIDENCE_THROUGH: int = 12

PRIORITY: tuple[str, ...] = (
    "q_kmeans_assign",
    "q_pq_codes",
    "q_pq_adc_topk",
    "q_dedup_semantic",
    "q_bpe_pairs",
    "q_agg_any_active",
    "q_agg_distinct",
    "q_agg_groupby",
    "q_agg_having",
    "q_agg_rollup",
    "q_cap_per_source",
    "q_case_when",
    "q_classifier_route",
    "q_date_funcs",
    "q_dup_detect",
    "q_except_all",
    "q_feature_hashing",
    "q_intersect_all",
    "q_join_anti",
    "q_join_asof",
    "q_join_part_supplier",
    "q_join_salted",
    "q_keyset_page",
    "q_lang_confusion",
    "q_lang_id",
    "q_length_buckets",
    "q_map_funcs",
    "q_math_funcs",
    "q_quality_classifier",
    "q_quantile_filter",
    "q_text_lang_dist",
    "q_text_lm_score",
    "q_text_quality",
    "q_text_repetition",
    "q_text_search",
    "q_text_search_indexed",
    "q_text_search_phrase",
    "q_text_stats",
    "q_token_count",
    "q_topic_assign",
    "q_vocab_topn",
    "q_win_distribution",
    "q_win_ratio_to_report",
    "q_agg_listagg",
    "q_agg_mode",
    "q_agg_percentile",
    "q_agg_pivot",
    "q_cascade_expire",
    "q_corpus_shuffle",
    "q_dedup_embed",
    "q_drift_psi",
    "q_embed_centroid",
    "q_embed_matryoshka",
    "q_embed_quantize",
    "q_except",
    "q_explode_filter",
    "q_filter_in_like",
    "q_filter_notnull",
    "q_filter_range",
    "q_graph_ancestors",
    "q_graph_subtree_size",
    "q_intersect",
    "q_join_broadcast",
    "q_join_cross",
    "q_join_full",
    "q_join_inner",
    "q_join_left",
    "q_join_multiway",
    "q_join_range",
    "q_join_semi",
    "q_json_extract",
    "q_limit_offset",
    "q_multimodal_framesample",
    "q_regex_normalize",
    "q_scan_pruned",
    "q_semver_gate",
    "q_sim_mrl_rerank",
    "q_sim_topk",
    "q_subquery_exists_corr",
    "q_subquery_scalar",
    "q_unpivot",
    "q_agg_cube",
    "q_agg_minmax",
    "q_agg_salted",
    "q_agg_stats",
    "q_anomaly_zscore",
    "q_array_funcs",
    "q_chunk_documents",
    "q_corpus_mix",
    "q_decontaminate",
    "q_dedup_exact",
    "q_dedup_incremental",
    "q_filter_eq",
    "q_funnel",
    "q_hist_equiwidth",
    "q_join_asof_tolerance",
    "q_join_interval",
    "q_join_lateral",
    "q_pack_sequences",
    "q_pii_redact",
    "q_recursive_cte",
    "q_retention_cohorts",
    "q_rollup_cascade",
    "q_scan_events",
    "q_scd2_build",
    "q_session_window",
    "q_sessionize",
    "q_source_csv",
    "q_source_jsonl",
    "q_source_orc",
    "q_split_key",
    "q_str_funcs",
    "q_stream_sessionize",
    "q_text_fingerprint",
    "q_text_normalize",
    "q_time_sliding",
    "q_time_tumbling",
    "q_time_weighted_avg",
    "q_tombstone_expire",
    "q_union_all",
    "q_union_distinct",
    "q_upsert_merge",
    "q_valid_at",
    "q_win_first_seen",
    "q_win_lag_lead",
    "q_win_last_event",
    "q_win_range_frame",
    "q_win_running_sum",
    "q_agg_filtered",
    "q_agg_grouping_sets",
    "q_cms_heavy_hitters",
    "q_dedup_boilerplate",
    "q_dedup_clusters",
    "q_dedup_containment",
    "q_dedup_ngram",
    "q_dedup_span_clean",
    "q_dedup_spans",
    "q_dq_checks",
    "q_entity_pairs",
    "q_graph_pagerank",
    "q_hist_equidepth",
    "q_mix_materialize",
    "q_mix_temperature",
    "q_profile_columns",
    "q_sample_stratified",
    "q_shape_q10",
    "q_shape_q13",
    "q_shape_q14",
    "q_shape_q15",
    "q_shape_q17",
    "q_shape_q18",
    "q_shape_q19",
    "q_shape_q2",
    "q_shape_q20",
    "q_shape_q21",
    "q_shape_q22",
    "q_shape_q3",
    "q_shape_q4",
    "q_shape_q5",
    "q_shape_q6",
    "q_shape_q7",
    "q_shape_q8",
    "q_sort_multi",
    "q_split_leakage_safe",
    "q_split_train_test",
    "q_subquery_not_in",
    "q_text_bm25",
    "q_text_tfidf",
    "q_timeseries_gapfill",
    "q_timeseries_interpolate",
    "q_topk",
    "q_udtf_sentences",
    "q_win_rank",
    "q_win_topk_group",
    "q_agg_approx_distinct",
    "q_agg_approx_percentile",
    "q_hll_rollup",
    "q_embed_project",
    "q_dedup_near",
    "q_dedup_simhash",
    "q_sim_ivf",
    "q_sim_lsh_bucketed",
    "q_decontaminate_bloom",
    "q_multimodal_features",
    "q_sim_ivfpq",
    "q_bpe_merges",
    "q_bpe_encode",
)


def _ordered(mapping: dict[str, Any]) -> dict[str, Any]:
    """Priority keys first (in PRIORITY order), then the rest as registered."""
    out = {k: mapping[k] for k in PRIORITY if k in mapping}
    out.update((k, v) for k, v in mapping.items() if k not in out)
    return out


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return _ordered(QUERIES)


def all_oracle_sql() -> dict[str, str]:
    load_all()
    return _ordered(ORACLE)


def describe() -> list[dict[str, Any]]:
    load_all()
    return [
        {"name": n, "oracle": n in ORACLE, "doc": (f.__doc__ or "").strip().splitlines()[0] if f.__doc__ else ""}
        for n, f in sorted(QUERIES.items())
    ]
