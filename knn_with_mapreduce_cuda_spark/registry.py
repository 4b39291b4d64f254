"""Central query registry — merges each operator module's QUERIES/ORACLE.

Every SURVEY.md §2 row ships as one entry in ``queries()`` plus (when
SQL-expressible) one in ``oracle_sql()``. Modules are imported lazily so a
bug in one tier can't take down the whole contract.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

#: operator modules contributing QUERIES / ORACLE dicts, in tier order.
_MODULES = [
    "knn_with_mapreduce_cuda_spark.operators.knn",
    "knn_with_mapreduce_cuda_spark.operators.relational",
    "knn_with_mapreduce_cuda_spark.operators.llm",
    "knn_with_mapreduce_cuda_spark.operators.streaming_batch",
    "knn_with_mapreduce_cuda_spark.operators.udf",
    "knn_with_mapreduce_cuda_spark.operators.sources_io",
    "knn_with_mapreduce_cuda_spark.operators.iterative",
    "knn_with_mapreduce_cuda_spark.operators.tpch",
    "knn_with_mapreduce_cuda_spark.operators.analytics",
]


#: SURVEY.md §2's graded contract, in table order (T1→T5). All 67 keys
#: lead the queries()/oracle_sql() dicts so a driver that checks a prefix
#: (time-budgeted gate) always covers the declared inventory first.
SURVEY_QKEYS = [
    # T1 — kNN core
    "knn_scan", "knn_normalize_minmax", "knn_normalize_zscore", "knn_split",
    "knn_allpairs", "knn_dist_euclidean", "knn_dist_sqeuclidean",
    "knn_dist_manhattan", "knn_dist_cosine", "knn_topk", "knn_classify",
    "knn_regress", "knn_join", "knn_accuracy", "knn_confusion",
    # T2 — relational surface
    "rel_scan_project_filter", "rel_join_broadcast", "rel_join_shuffle",
    "rel_join_outer", "rel_join_semi_anti", "rel_join_theta_range",
    "rel_join_asof", "rel_agg_hash", "rel_agg_distinct", "rel_agg_approx",
    "rel_agg_grouping_sets", "rel_window_rank", "rel_window_analytic",
    "rel_window_frame", "rel_sort_limit", "rel_topk_per_group",
    "rel_setop_union", "rel_setop_intersect_except", "rel_subquery",
    "rel_fn_string", "rel_fn_date", "rel_fn_math", "rel_fn_conditional",
    "rel_fn_array", "rel_fn_map_struct", "rel_fn_json", "rel_dedup_exact",
    "rel_sample", "rel_explain_pivot",
    # T3 — LLM pipeline
    "llm_dedup_hash", "llm_dedup_near_minhash", "llm_simsearch_topk",
    "llm_text_tokenize", "llm_text_ngram", "llm_text_tfidf",
    "llm_text_stats", "llm_multimodal_join", "llm_lang_partition",
    # T4 — streaming (batch-equivalent forms)
    "str_window_tumbling", "str_window_sliding", "str_window_session",
    "str_dedup_watermark", "str_late_data", "str_join_stream_static",
    "str_join_stream_stream", "str_stateful_map", "str_sink",
    # T5 — UDF surface
    "udf_scalar_py", "udf_pandas_vectorized", "udf_grouped_agg",
    "udf_map_arrow", "udf_udtf",
]


#: Rotation window — the POST-CLOSURE freshness policy
#: (VERDICT r08 "Next round" #2), extended per VERDICT r10 #4 to weight
#: the window toward "edited-oracle ∩ stalest". Staleness = rounds
#: since a key's newest driver CORRECTNESS row, ties broken FIRST by
#: evidence lag (_EVIDENCE_LAG: keys whose oracle string or engine
#: source changed AFTER their newest driver grading — within a
#: staleness stratum those re-earn a driver row before untouched keys),
#: then by the stable pre-rotation merged-module order (NOT the rotated
#: registry order, which this list itself determines — circular).
#: Strata stay primary so the oldest stratum always drains fully first
#: (tests/test_contract.py freshness bound). _RE_EARNED keys
#: (output-changed) jump the queue entirely; never-graded keys rank as
#: staleness=∞ and front automatically. This list must equal
#: compute_stale_window(50) — enforced by tests/test_contract.py. Current
#: window (regenerated after CORRECTNESS_r12.json re-graded the r11
#: window): the full 18-key r04 stratum plus the first 32 of the 41
#: evidence-lagged r05 keys.
_ROTATE_FRONT = [
    "str_attribution_linear", "ml_mi_lang_source", "ts_periodogram",
    "llm_minhash_est_vs_exact", "llm_tfidf_cosine_pairs", "ts_ljung_box",
    "llm_perplexity_unigram", "ts_hurst_rs", "rel_skyline_pareto",
    "str_retention_cohort", "ts_autocorr", "ts_cusum",
    "ts_changepoint", "llm_dedup_threshold_sweep", "ts_trend_theil_sen",
    "ml_assoc_rules", "llm_edit_distance_pairs", "ts_mann_kendall",
    "knn_classify_weighted", "knn_k_sweep", "knn_radius",
    "knn_radius_pivot", "knn_centroid", "knn_mutual",
    "knn_predict_proba", "knn_kth_dist", "llm_simsearch_pq_stored",
    "llm_simsearch_ivfpq_stored", "graph_linkpred_jaccard", "llm_zipf_slope",
    "ml_spearman_rho", "ml_kendall_tau", "graph_assortativity",
    "str_power_users_pareto", "graph_component_sizes", "ts_interp_linear",
    "ml_gains_table", "ts_drawdown", "ts_sax_symbols",
    "graph_degree_gini", "ts_cross_correlation", "ml_ndcg_at10",
    "ml_cluster_purity_nmi", "ml_kmeans_inertia", "ml_learning_curve",
    "str_user_temporal_entropy", "ml_ivf_recall_at10", "graph_reciprocity",
    "ml_embed_drift_ks", "ts_acf_significance",
]

#: Keys whose ORACLE string or QUERIES function source changed AFTER
#: their newest driver CORRECTNESS row (generated by
#: scripts/rotation_r11.py, which diffs HEAD against a ``git archive``
#: export of each key's graded tree). The r10–r12 robustness sweeps and
#: optimizations (try_divide conventions, poisoned-vector emb CTEs,
#: asc_nulls_last windows, half-fold pair spaces) leave 176 keys
#: lagged — more than one 50-slot window; compute_stale_window
#: drains them stalest-stratum-first, lag-first within a stratum, and
#: this list shrinks as rounds regrade (regenerate it each round).
#: Every key here is re-verified against its oracle by the
#: full-registry ``run_oracle.py --both`` sweep — the lag is
#: driver-evidence currency, not correctness doubt.
_EVIDENCE_LAG = [
    "graph_assortativity", "graph_component_sizes", "graph_components_dedup",
    "graph_degree_entropy", "graph_degree_gini", "graph_edge_length_stats",
    "graph_linkpred_jaccard", "graph_reciprocity", "graph_summary_stats",
    "graph_transitivity", "knn_accuracy", "knn_allpairs",
    "knn_centroid", "knn_classify", "knn_classify_weighted",
    "knn_confusion", "knn_dist_chebyshev", "knn_dist_cosine",
    "knn_dist_dot", "knn_dist_euclidean", "knn_dist_hamming",
    "knn_dist_manhattan", "knn_dist_minkowski", "knn_dist_seuclidean",
    "knn_dist_sqeuclidean", "knn_join", "knn_k_sweep",
    "knn_kth_dist", "knn_mutual", "knn_normalize_minmax",
    "knn_normalize_unit", "knn_normalize_zscore", "knn_predict_proba",
    "knn_radius", "knn_radius_pivot", "knn_regress",
    "knn_scan", "knn_topk", "llm_ann_lsh",
    "llm_dataset_card", "llm_dedup_embed", "llm_dedup_incremental",
    "llm_dedup_minhash_mllib", "llm_dedup_simhash", "llm_embed_outliers",
    "llm_embed_quantize", "llm_heaps_law", "llm_keywords_per_doc",
    "llm_minhash_est_vs_exact", "llm_mix_temperature", "llm_multimodal_features",
    "llm_multimodal_framesample", "llm_multimodal_join", "llm_multimodal_resize",
    "llm_ngram_novelty", "llm_pack_sequences", "llm_perplexity_unigram",
    "llm_pipeline_e2e", "llm_quality_score", "llm_search_bm25",
    "llm_semdedup", "llm_simsearch_gemm", "llm_simsearch_ivfpq_stored",
    "llm_simsearch_pq_stored", "llm_simsearch_topk", "llm_text_ngram_char",
    "llm_tfidf_cosine_pairs", "llm_token_entropy", "llm_vocab_kl_divergence",
    "llm_zipf_slope", "ml_ab_test_proportions", "ml_average_precision",
    "ml_balanced_accuracy", "ml_best_f1_threshold", "ml_brier_score",
    "ml_chi2_independence", "ml_cluster_purity_nmi", "ml_cohens_kappa",
    "ml_dim_ablation", "ml_dist_concentration", "ml_ece",
    "ml_embed_drift_ks", "ml_f1_scores", "ml_feature_gain",
    "ml_gains_table", "ml_ivf_recall_at10", "ml_kaplan_meier",
    "ml_kendall_tau", "ml_kmeans_inertia", "ml_kmeans_lloyd",
    "ml_label_noise_flags", "ml_learning_curve", "ml_log_loss",
    "ml_lowe_ratio", "ml_mcc", "ml_mcnemar_test",
    "ml_mi_lang_source", "ml_naive_bayes", "ml_ndcg_at10",
    "ml_operating_point_card", "ml_pca_power", "ml_platt_1step",
    "ml_precision_at_k", "ml_precision_recall", "ml_psi_drift",
    "ml_recall_at_k", "ml_spearman_rho", "ml_tpr_at_fixed_fpr",
    "ml_ttest_welch", "ml_tukey_fences", "ml_vote_margin",
    "ml_youden_threshold", "rel_agg_approx_quantile", "rel_agg_grouping_sets",
    "rel_agg_hash", "rel_agg_stats", "rel_column_profile",
    "rel_fn_array", "rel_fn_date", "rel_fn_date2",
    "rel_fn_higher_order2", "rel_fn_math", "rel_group_by_all",
    "rel_histogram_fixed", "rel_histogram_log", "rel_incremental_agg",
    "rel_join_bloom_prefilter", "rel_join_broadcast", "rel_join_lateral",
    "rel_join_shuffle", "rel_merge_upsert", "rel_skyline_pareto",
    "rel_stat_crosstab", "rel_try_arith", "rel_window_percentiles",
    "rel_window_range_interval", "rel_yoy_growth", "src_csv_roundtrip",
    "src_jsonl_roundtrip", "src_knn_text_roundtrip", "src_orc_roundtrip",
    "src_python_datasource", "str_arrival_iat_stats", "str_attribution_linear",
    "str_churn_labels", "str_cohort_ltv", "str_power_users_pareto",
    "str_rfm_segments", "str_stateful_map", "str_user_temporal_entropy",
    "str_window_session", "str_window_sliding", "str_window_tumbling",
    "ts_acf_significance", "ts_cross_correlation", "ts_drawdown",
    "ts_gumbel_fit", "ts_hurst_rs", "ts_interp_linear",
    "ts_ljung_box", "ts_max_drawdown", "ts_ohlc",
    "ts_peak_detect", "ts_periodogram", "ts_runs_test",
    "ts_sax_symbols", "ts_season_strength", "ts_seasonal_profile",
    "ts_spectral_entropy", "ts_type_correlation_matrix", "ts_variance_time",
    "udf_apply_arrow", "udf_arrow_scalar", "udf_grouped_map",
    "udf_pandas_iter", "udf_udtf",
]

#: Keys whose OUTPUT changed since their last driver row (an
#: intentional semantics edit): they jump the staleness queue and lead
#: the next window regardless of age (ADVICE r05 #4 discipline, carried
#: into the post-closure policy). Empty this round — no graded key's
#: output changed (golden digests pin this; tests/test_golden.py).
_RE_EARNED: list[str] = []


def staleness_map(root: str | None = None) -> dict[str, int]:
    """key → newest driver-CORRECTNESS round, with the NEWEST-ARTIFACT
    EXCLUSION applied: the newest CORRECTNESS_r*.json is ignored when
    its key set is exactly _ROTATE_FRONT (that file IS the current
    window's own grading run — counting it would re-rotate the window,
    or re-arm freshness assertions, every time the driver writes the
    artifact the window itself asked for; VERDICT r09 #1). This is THE
    canonical staleness view — compute_stale_window and the contract
    tests both read it, so they can never disagree. ``root`` overrides
    the artifact directory (tests inject synthetic artifacts)."""
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds: dict[int, set] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            rounds[int(m.group(1))] = set(json.load(open(path)))
        except Exception:
            continue
    if rounds and rounds[max(rounds)] == set(_ROTATE_FRONT):
        del rounds[max(rounds)]
    last: dict[str, int] = {}
    for r, keys in rounds.items():
        for k in keys:
            last[k] = max(last.get(k, 0), r)
    return last


def compute_stale_window(n: int = 50) -> list[str]:
    """The canonical n-key freshness window: _RE_EARNED first, then all
    registry keys stalest-first (never-graded keys rank stalest of
    all), with _EVIDENCE_LAG keys ahead of untouched keys WITHIN each
    staleness stratum (VERDICT r10 #4: weight the window toward
    edited-oracle ∩ stalest — strata stay primary so the oldest
    stratum still drains fully first), final ties broken by the stable
    pre-rotation merged-module order. Staleness comes from
    staleness_map() (newest-artifact exclusion applied there)."""
    last = staleness_map()
    base = list(_collect_raw("QUERIES"))
    order = {k: i for i, k in enumerate(base)}
    re_earned = [k for k in _RE_EARNED if k in order]
    lagged = set(_EVIDENCE_LAG)
    rest = sorted(
        (k for k in base if k not in re_earned),
        key=lambda k: (last.get(k, 0), k not in lagged, order[k]),
    )
    return (re_earned + rest)[:n]


def _collect_raw(attr: str) -> dict:
    """Merged module dicts in stable pre-rotation module order — the
    tie-break order for staleness (rotation-independent by design)."""
    merged: dict = {}
    for mod_name in _MODULES:
        try:
            mod = importlib.import_module(mod_name)
        except ModuleNotFoundError:
            continue
        for key, value in getattr(mod, attr, {}).items():
            if key in merged:
                raise ValueError(f"duplicate query key {key!r} from {mod_name}")
            merged[key] = value
    return merged


def _collect(attr: str) -> dict:
    merged = _collect_raw(attr)
    # This round's freshness window first, then the rest of the SURVEY
    # contract, then engine extras — all in stable order.
    front = [k for k in _ROTATE_FRONT if k in merged]
    front += [k for k in SURVEY_QKEYS if k in merged and k not in front]
    ordered = {k: merged[k] for k in front}
    ordered.update((k, v) for k, v in merged.items() if k not in ordered)
    return ordered


#: the driver grades at this fixture scale; oracle strings carrying the
#: {SF_DIR} placeholder (currently src_parquet_metadata, whose SQL needs
#: a literal filesystem path) are rendered against it by default so the
#: driver runs valid verbatim SQL. run_oracle.py re-renders per SF.
GRADED_SF_DIR = "/root/testdata/sf0.01"


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _collect("QUERIES")


def oracle_sql(sf_dir: str = GRADED_SF_DIR) -> dict[str, str]:
    out = _collect("ORACLE")
    known = set(queries())
    stray = set(out) - known
    if stray:
        raise ValueError(f"oracle entries without queries: {sorted(stray)}")
    # both placeholders land inside single-quoted DuckDB string
    # literals — escape embedded quotes (ADVICE r07 #4: an
    # env-controlled SPARK_GRAFT_SCRATCH containing ' would otherwise
    # break or ALTER the rendered oracle SQL).
    stem = sf_dir.rstrip("/").replace("'", "''")
    out = {k: v.replace("{SF_DIR}", stem) for k, v in out.items()}
    if any("{PQ_ROOT}" in v for v in out.values()):
        # stored-index oracles read artifacts under the user scratch
        # root. Rendered with the PURE path resolver (no mkdir, no
        # raise — ADVICE r06 #4): an unusable root fails only those
        # keys at execution, never this whole dict.
        from .operators.llm import _scratch_root_path

        root = _scratch_root_path().replace("'", "''")
        out = {k: v.replace("{PQ_ROOT}", root) for k, v in out.items()}
    return out
