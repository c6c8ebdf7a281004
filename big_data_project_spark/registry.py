"""Merged registry of every query operator and its DuckDB oracle SQL.

Query modules: operators/* (analytics), sources/* (feed normalization +
simulation), streaming/pipeline (batch twins), ml/demand (model,
rows-only). Sinks (plans/sinks.py, plans/exports.py) and raw sources
(sources/gtfs.py) are exercised by tests rather than query entries.

Modules contribute ``QUERIES`` ({name: fn(spark, sf_dir) -> DataFrame})
and ``ORACLES`` ({name: ANSI SQL}); names must be globally unique.
Queries without an oracle get the driver's weaker rows-only check
(documented per-query in SURVEY.md §2).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import (
    alerts,
    behavior,
    bloom,
    commerce,
    corpus,
    corpus_stats,
    curation,
    dedup,
    geo,
    hourly,
    ingest,
    kpi,
    multimodal,
    quality,
    relational,
    sampling,
    selection,
    similarity,
    sketches,
    spatial,
    suggestions,
    textops,
    timeseries,
    tpch,
    tpch_ext,
    tpch_sub,
    trend,
    validation,
    vectorops,
    warehouse,
)
from .ml import demand
from .sources import cdc, generators, jsonfeed, protofeed
from .streaming import pipeline as streaming_pipeline

# Order matters: the driver's correctness gate walks this list in
# registration order under a wall-time budget (~50 entries/round so
# far). Round 4: evidence rotation (round-3 verdict item 7) — every key
# is green in the union of r01-r03, so after the never-evidenced
# round-4 additions (16 keys, which lead: first-round keys MUST get a
# driver row) the window re-covers the keys whose newest driver row is
# OLDEST: the r01 cohort (42 keys: hourly..tpch_ext), then the r02
# cohort; the r03-evidenced families trail.
_MODULES = [
    # --- NEW in round 4 (16 keys): lead the list so every first-round
    # key is guaranteed driver evidence even if the window shrinks ---
    corpus_stats,
    trend,
    vectorops,
    behavior,
    quality,
    bloom,
    warehouse,
    commerce,
    selection,
    cdc,
    # --- r01 cohort: newest driver evidence is CORRECTNESS_r01 ---
    hourly,
    kpi,
    suggestions,
    validation,
    geo,
    ingest,
    tpch,
    tpch_ext,
    # --- r02 cohort: newest driver evidence is CORRECTNESS_r02 ---
    generators,
    jsonfeed,
    protofeed,
    textops,
    dedup,
    sampling,
    similarity,
    multimodal,
    sketches,
    # --- r03 cohort: evidenced by CORRECTNESS_r03 last round ---
    spatial,
    tpch_sub,
    relational,
    demand,
    alerts,
    streaming_pipeline,
    curation,
    corpus,
    timeseries,
]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

for _mod in _MODULES:
    for _name, _fn in _mod.QUERIES.items():
        if _name in QUERIES:
            raise ValueError(f"duplicate query name: {_name}")
        QUERIES[_name] = _fn
    for _name, _sql in getattr(_mod, "ORACLES", {}).items():
        if _name not in _mod.QUERIES:
            raise ValueError(f"oracle without query: {_name}")
        ORACLES[_name] = _sql

# Key-level promotion: the driver's correctness walk covers ~50 keys
# per round (wall-time budgeted) in registration order, so this list
# IS the evidence rotation. Round 9 (round-8 verdict item 1): FIRST
# the nine oracle-backed keys whose newest driver row is
# CORRECTNESS_r03 — five rounds stale, the exact cohort the r08
# wall-budget cut rolled over — THEN any new round-9 keys as they land
# (never-evidenced keys MUST get a driver row), THEN the 49-key cohort
# whose newest driver row is CORRECTNESS_r04, ordered
# cheapest-measured-sf0.01-wall first so the budget cut refreshes the
# most keys. Whole list = 58 + new; if the driver truncates at ~50
# the r04 tail rolls to round 10 (the driver-SF pytest gate —
# tests/test_oracle_parity_driver_sf.py — covers the roll-over keys
# meanwhile). Rows-only keys (sketches, embedding_pca_variance,
# ml/demand RF keys) are deliberately NOT
# promoted — a `no_oracle` row burns a driver slot reporting nothing;
# their evidence is the bounded unit tests + the oracle-backed
# companion keys.
_PROMOTED = [
    # --- r03-stale cohort (verdict item 1): MUST re-enter the window ---
    "shingle_novelty",  # 1.29s
    "q2_min_cost_supplier",  # 1.87s
    "tfidf_top_terms",  # 1.97s
    "nearest_stop",  # 2.06s
    "lm_bigram_logprob",  # 3.51s
    "dedup_incremental",  # 5.55s
    "kpi_alerts_hourly",  # 8.36s
    "dedup_method_agreement",  # 8.92s
    "cross_source_dup_matrix",  # 17.94s
    # --- NEW in round 9 (appended as they land) ---
    "demand_leaderboard_audit",
    "nmf_topic_rounds",
    "ams_f2_sketch",
    "dedup_editdist_verify",
    "route_hits_authority",
    "blocking_quality_audit",
    "dedup_prefix_filter",
    "classifier_calibration_bins",
    "neardup_kcore",
    "sequential_pair_support",
    "transition_entropy_rate",
    # --- r04-stale cohort, cheapest measured sf0.01 wall first ---
    "kpi_hourly",  # 0.11s
    "weather_hourly",  # 0.22s
    "stop_base_demand",  # 0.24s
    "prediction_baseline",  # 0.28s
    "events_hourly",  # 0.29s
    "route_service_availability",  # 0.31s
    "delay_hourly",  # 0.34s
    "source_lang_matrix",  # 0.39s
    "split_balance_audit",  # 0.47s
    "zipf_slope",  # 0.50s
    "interevent_gap_histogram",  # 0.52s
    "doc_length_quantiles",  # 0.56s
    "seasonal_naive_eval",  # 0.56s
    "funnel_conversion_lag",  # 0.57s
    "sequence_packing_bins",  # 0.57s
    "event_transition_matrix",  # 0.57s
    "embedding_dim_stats",  # 0.58s
    "doc_token_entropy",  # 0.59s
    "headway_hourly",  # 0.61s
    "active_users_hourly",  # 0.64s
    "delay_seasonal_profile",  # 0.65s
    "ml_dataset_hourly",  # 0.65s
    "winnowing_fingerprint",  # 0.65s
    "demand_trend_line",  # 0.68s
    "props_value_consistency",  # 0.69s
    "lang_rebalance_sample",  # 0.70s
    "gopher_rule_flags",  # 0.73s
    "headway_regularity",  # 0.76s
    "embedding_quantize_audit",  # 0.78s
    "demand_hourly",  # 0.81s
    "suggestion_stability",  # 0.81s
    "label_centroid_similarity",  # 0.89s
    "train_test_split",  # 0.90s
    "retention_cohorts",  # 0.99s
    "delay_cusum_changepoint",  # 1.02s
    "near_dup_degree_histogram",  # 1.05s
    "minhash_band_analysis",  # 1.06s
    "funnel_conversion",  # 1.14s
    "delay_headway_corr",  # 1.29s
    "delay_ewma_24h",  # 1.32s
    "token_pmi_bigrams",  # 1.32s
    "source_token_kl",  # 1.33s
    "countmin_heavy_hitters",  # 1.33s
    "bloom_dedup_audit",  # 1.56s
    "dau_rolling_wau",  # 1.73s
    "dedup_cluster_sizes",  # 2.39s
    "multimodal_frame_checksums",  # 2.41s
    "ann_rrf_fusion",  # 3.62s
    "dedup_threshold_sweep",  # 3.65s
]
_missing = [k for k in _PROMOTED if k not in QUERIES]
if _missing:
    raise ValueError(f"promoted keys not registered: {_missing}")
QUERIES = {
    **{k: QUERIES[k] for k in _PROMOTED},
    **{k: v for k, v in QUERIES.items() if k not in _PROMOTED},
}
