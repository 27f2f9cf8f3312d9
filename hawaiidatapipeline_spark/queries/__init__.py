"""Checked query registry.

Every operator from SURVEY.md §2 lands here as a named entry: a PySpark
callable ``(spark, sf_dir) -> DataFrame`` plus (for E-oracle rows) the
equivalent ANSI SQL that DuckDB runs over the same Parquet tables. The
driver hash-compares the two at sf0.01 — column names are aliased
identically on both sides, floating aggregates rounded to 6 dp on both
sides (SURVEY.md §7 risk 1).

Modules register into ``QUERIES`` / ``ORACLES`` via ``collect()``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Registry order drives the driver's correctness sweep, which records the
# FIRST 50 entries per round. Rounds 1-3 proved 147 keys green
# (CORRECTNESS_r01/r02/r03.json, disjoint windows, 0 standing failures);
# the round-4 window (below) fronts the 50 keys never driver-checked as
# of round 3. Keys added during round 4 queue for the round-5 rotation.
_MODULES = (
    "functions",
    "events",
    "llm",
    "textanalysis",
    "udfs",
    "sources",
    # -- module order no longer affects the driver window (see _FRONT) --
    "multimodal",
    "soql_demo",
    "sources_extra",
    "tpch",
    "tpch_extra",
    "analysis_extra",
    "warehouse_extra",
    "training_extra",
    "sqlsurface_extra",
    "functional_extra",
    "patterns_extra",
    "stats_extra",
    "inference_extra",
    "causal_extra",
    "attribution_extra",
    "scalepath_extra",
    "ops_extra",
    "robust_extra",
    "audit_extra",
    "mining_extra",
    "geo_extra",
    "sampling",
    "sketches_extra",
    "metrics_extra",
    "round10_extra",
    "round11_extra",
    "round12_extra",
    "round13_extra",
    "round13b_extra",
    "round14_extra",
    "selection_extra",
    "text_extra",
    "curation_extra",
    "emb_extra",
    "ivfpq",
    "joins_extra",
    "layout",
    "graph_demo",
    "training",
    "analytics",
    "pipeline_demo",
    "windows",
    "core",
    "relational",
    "joins",
    "aggregates",
)

# The driver's per-round correctness sweep records the FIRST 50 registry
# entries. _FRONT pins that window to an EXPLICIT key list (in order),
# decoupled from module placement — adding a query to any module can no
# longer silently shift the window. Keys listed here but not registered
# (e.g. a module not built yet) are ignored. Per-round procedure: run
# tools/rotate_window.py with all CORRECTNESS_r*.json files — it rewrites
# this tuple to fail-on-record keys first, then never-checked keys.
#
# Current window (tool-rewritten): 50 keys — 0 failed-to-reprove, 0 never-checked,
# then the 50 stalest greens (earliest last-checked round first).
_FRONT: tuple[str, ...] = (
    'etl_dedup_incremental', 'llm_containment_pairs', 'llm_length_histogram',
    'llm_uniqueness_score', 'emb_norm_qc', 'join_fuzzy_blocked',
    'llm_fingerprint_exact', 'llm_train_val_split', 'llm_dedup_clusters',
    'llm_contamination_report', 'llm_dedup_fuzzy', 'llm_linkage_minhash',
    'llm_dedup_survivors', 'llm_semantic_clusters', 'etl_scd2',
    'etl_merge_upsert', 'events_anomaly', 'events_funnel',
    'events_retention', 'etl_snapshot_diff', 'etl_incremental_agg',
    'etl_rollup_hierarchy', 'llm_corpus_pipeline', 'llm_corpus_pipeline_v2',
    'llm_corpus_pipeline_v3', 'llm_corpus_pipeline_v4', 'win_lag_lead',
    'win_running_rows', 'win_range_frame', 'win_first_last',
    'win_topk_per_group', 'win_islands', 'win_distribution',
    'fulltext_ranked', 'dq_expectations', 'set_union_by_name',
    'join_bloom_prefilter', 'join_salted_skew', 'agg_quantile_histogram',
    'agg_distinct_kmv', 'agg_mode_deterministic', 'agg_corr_deterministic',
    'agg_bitmap_distinct', 'events_transition_matrix', 'llm_unigram_logprob',
    'catalog_search', 'multimodal_video_frames', 'multimodal_image_resize',
    'soql_fulltext_terms', 'tpch_q4_late_orders',
)


def collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Import every query module and merge its QUERIES/ORACLES dicts,
    then move the pinned ``_FRONT`` window keys to the head of the
    registry (the driver sweeps the first 50 entries per round)."""
    import importlib

    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for modname in _MODULES:
        fqname = f"hawaiidatapipeline_spark.queries.{modname}"
        try:
            mod = importlib.import_module(fqname)
        except ModuleNotFoundError as exc:
            # Only tolerate the module file itself being absent; a broken
            # import INSIDE an existing module must fail loudly, otherwise
            # its queries silently vanish from the correctness gate.
            if exc.name == fqname:
                continue  # module not built yet
            raise
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query key: {name}")
            queries[name] = fn
        for name, sql in getattr(mod, "ORACLES", {}).items():
            if name in oracles:
                raise ValueError(f"duplicate oracle key: {name}")
            oracles[name] = sql
    front = [k for k in _FRONT if k in queries]
    ordered = {k: queries[k] for k in front}
    ordered.update((k, v) for k, v in queries.items() if k not in ordered)
    return ordered, oracles
