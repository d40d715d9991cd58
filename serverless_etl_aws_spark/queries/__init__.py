"""Query registry — one entry per operator key, one module per operator
family.

Each key maps to a :class:`Query`: a Spark callable ``(spark, sf_dir) ->
DataFrame`` plus (where SQL-expressible) the equivalent ANSI SQL string the
DuckDB oracle runs on the same parquet. The driver consumes these through
``__spark_entry__.py``.

Every family module in :data:`FAMILIES` exposes a ``QUERIES`` dict whose
keys share the family's prefixes (``agg_`` → ``aggregates``, ``graph_`` →
``graph``, ...). Registry order is not module order: it is the manifest
``CONTRACT_2B + EXTENSION_KEYS`` below, and :func:`build_registry` refuses
a family set that does not register exactly those keys.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass
from typing import Literal

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    """One contract entry: Spark implementation + optional DuckDB oracle.

    ``eager`` records whether building the DataFrame already runs Spark
    jobs:

    - ``"state"``: the build mutates state or stages inputs — it runs a
      streaming job to completion, performs commit/crash/vacuum cycles on
      the atomic table, writes scratch files or an embedded Derby
      database — and the returned DataFrame is a read of the result.
      Introspection surfaces (``Engine.explain``, the CLI ``explain``
      subcommand) refuse these keys unless the caller opts in.
    - ``"compute"``: the build executes bounded computation (iterative
      loops with eager checkpoints, argmax/bounds collects, driver-side
      sketch training) but mutates nothing, so re-running it is always
      safe and ``Engine.explain`` allows it.
    - ``None``: the build is pure plan construction and launches no Spark
      job (tests/test_registry_layout.py checks this for every such key).
    """

    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None = None
    doc: str = ""
    eager: Literal["state", "compute"] | None = None


# The 47 SURVEY.md §2B contract keys, in §2B table order. These MUST come
# first in queries() insertion order: the driver's correctness check walks
# the registry in order and may not reach the tail.
CONTRACT_2B: tuple[str, ...] = (
    "scan_parquet", "project_rename", "filter_pred", "filter_null",
    "join_inner", "join_broadcast", "join_multiway", "join_left",
    "join_semi", "join_anti", "join_range", "join_asof",
    "agg_group", "agg_distinct", "agg_approx_distinct", "agg_rollup",
    "agg_cube", "agg_grouping_sets",
    "win_rank", "win_lag_lead", "win_frame_rows", "win_running",
    "sort_limit", "topk_per_group",
    "set_union_all", "set_union_distinct", "set_intersect", "set_except",
    "fn_string", "fn_date", "fn_math_cond", "fn_json", "fn_array",
    "dedup_exact", "ingest_incremental", "sink_partitioned",
    "stream_tumbling", "stream_sliding", "stream_session",
    "stream_late_data",
    "llm_dedup_minhash", "llm_sim_search", "llm_text_stats",
    "llm_lang_filter",
    "udf_scalar", "udaf_grouped", "udtf_explode",
)

# Every other key, in registry order. The driver's correctness audit
# covers the first 50 registry keys, so the first three entries here are
# the only audit slots for keys outside the contract.
EXTENSION_KEYS: tuple[str, ...] = (
    "graph_bfs", "sample_weighted", "agg_mode", "win_streak", "agg_corr",
    "join_lateral", "llm_ngram_novelty", "ts_anomaly_mad", "ts_gap_detect",
    "agg_heavy_hitters", "llm_dedup_apply", "llm_prefix_dedup",
    "llm_sim_search_ivf", "llm_paragraph_dedup", "llm_bpe_encode",
    "mm_audio_window", "mm_scene_cut", "mm_phash", "mm_frame_sample",
    "mm_resize", "mm_feature_extract", "llm_embed_quantize",
    "llm_corpus_stats", "mm_decode_meta", "llm_token_count", "llm_tfidf",
    "llm_pii_scrub", "llm_fingerprint", "llm_lang_id", "llm_quality_score",
    "llm_dedup_embedding", "llm_decontaminate", "llm_knn_join",
    "llm_dedup_ngram", "llm_dedup_cluster", "llm_dedup_simhash",
    "win_rolling_median", "ts_seasonal", "ts_cusum", "ts_autocorr",
    "ml_naive_bayes", "llm_collocations", "win_drawdown", "agg_skew_kurt",
    "win_pareto", "graph_degree_dist", "dq_benford", "agg_hhi",
    "win_retention", "ml_auc", "dq_profile", "graph_jaccard", "ml_confusion",
    "ml_calibration", "ml_chi2", "ts_trend_mk", "dq_referential",
    "graph_components", "ml_stump", "graph_kcore", "llm_vocab_growth",
    "agg_ks_test", "ml_survival_km", "agg_winsorized_mean",
    "agg_conversion_lag", "graph_assortativity", "dq_spc", "ml_ndcg",
    "graph_clustering_coeff", "ml_lift", "ts_holt", "dq_freshness",
    "ml_pr_at_k", "graph_modularity", "ml_ab_test", "agg_simpson",
    "ts_changepoint", "ml_spearman", "graph_resource_alloc",
    "ml_best_threshold", "ts_theil_sen", "ml_assoc_rules", "ml_wilson_ci",
    "dq_uniqueness", "dq_iqr_outliers", "dim_calendar", "ml_feature_hash",
    "ml_ltv_cohort", "ml_mrr", "dq_tvd_drift", "ml_forecast_eval",
    "graph_reciprocity", "agg_cramers_v", "ml_kendall_tau",
    "ml_uplift_segments", "dq_out_of_order", "agg_lorenz",
    "dq_embedding_audit", "ts_active_users", "ts_burstiness",
    "dq_temporal_integrity", "agg_weighted_median", "ml_diff_in_diff",
    "agg_share_shift", "ml_markov_chain", "ts_cross_corr", "ml_ece",
    "dq_completeness_trend", "ts_anova_weekday", "dq_table_checksum",
    "ml_feature_screen", "ml_target_encode", "dq_json_schema",
    "agg_mix_rate_decomp", "agg_median_ci", "ml_label_centroids",
    "ml_churn_labels", "ts_gap_fill", "agg_abc_class", "dq_saturation",
    "scan_merge_schema", "scan_pydatasource", "join_full_outer",
    "join_asof_tolerance", "agg_sketch_merge", "udf_cogrouped", "udtf_python",
    "rollup_incremental", "export_warehouse", "rollup_upsert",
    "stream_pydatasource", "stream_stateful", "stream_dedup", "stream_join",
    "stream_cdc", "stream_stream_join", "llm_dedup_editdist",
    "llm_repeat_ngram", "llm_doc_chunk", "llm_pack_sequences", "scan_csv",
    "scan_json", "agg_percentile", "agg_pivot", "win_ntile_first_last",
    "subquery_scalar", "subquery_in", "agg_collect", "win_frame_range",
    "sample_hash", "join_salted", "join_bucketed", "scan_orc",
    "agg_approx_quantile", "fn_struct_map", "win_percent_rank",
    "agg_zscore_outlier", "maintenance_compact", "dq_expectations",
    "llm_cross_dedup", "win_sessionize", "agg_funnel", "llm_bigram_lm",
    "sample_stratified", "llm_data_split", "agg_stats", "agg_unpivot",
    "win_cume_dist", "ts_resample", "maintenance_vacuum", "maintenance_zorder",
    "scan_binaryfile", "agg_histogram", "graph_pagerank", "llm_sim_search_pq",
    "dim_scd2", "fn_url", "join_dpp", "ml_kmeans", "llm_bpe_pairs",
    "fn_binary_codec", "fn_regexp_extract_all", "llm_curation_pipeline",
    "llm_mix_weights", "set_intersect_all", "set_except_all", "fn_bitwise",
    "agg_conditional", "graph_triangles", "ml_linreg",
    "llm_winnow_fingerprint", "ts_interpolate", "scan_text", "scan_xml",
    "llm_hard_negatives", "join_interval_overlap", "ts_rolling_zscore",
    "fn_higher_order", "win_frame_range_time", "llm_span_corruption",
    "llm_bpe_train", "fn_date_arith", "graph_label_propagation",
    "dim_snapshot_diff", "agg_multi_distinct", "maintenance_analyze",
    "ts_ewma", "scan_jdbc", "scan_atomic_table", "fn_try_cast",
    "ml_random_projection", "win_ignore_nulls", "maintenance_delete_rows",
    "agg_gini",
)

FAMILIES: tuple[str, ...] = (
    "relational", "joins", "aggregates", "windows", "sorts_sets",
    "scalar_fns", "udx", "pipeline_ops", "streaming_ops", "llm", "graph",
    "ml", "ts", "dq",
)


def build_registry() -> dict[str, Query]:
    """Collect every family's ``QUERIES`` in manifest order."""
    registry: dict[str, Query] = {}
    for family in FAMILIES:
        mod = importlib.import_module(f".{family}", __name__)
        for key, q in mod.QUERIES.items():
            if key in registry:
                raise ValueError(f"duplicate query key {key!r}")
            registry[key] = q
    manifest = (*CONTRACT_2B, *EXTENSION_KEYS)
    if sorted(manifest) != sorted(registry):
        raise ValueError(
            f"registry and manifest differ: missing "
            f"{sorted(set(manifest) - set(registry))}, not in manifest "
            f"{sorted(set(registry) - set(manifest))}, listed twice "
            f"{sorted({k for k in manifest if manifest.count(k) > 1})}"
        )
    return {key: registry[key] for key in manifest}


_REGISTRY = build_registry()
#: Keys whose build mutates state or stages inputs (``eager="state"``).
EAGER_KEYS: frozenset[str] = frozenset(
    k for k, q in _REGISTRY.items() if q.eager == "state"
)
#: Keys whose build runs side-effect-free Spark jobs (``eager="compute"``).
COMPUTE_EAGER_KEYS: frozenset[str] = frozenset(
    k for k, q in _REGISTRY.items() if q.eager == "compute"
)
