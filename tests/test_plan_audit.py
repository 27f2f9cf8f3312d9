"""Physical-plan property tests (SURVEY.md §4.2 — the 100 TB design gate).

These assert the *shape* of the executed plan, not results: filters reach
the parquet reader, dims broadcast, codegen covers the hot path. Full audit
across 15 queries: ``python tools/explain_audit.py``.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.explain_audit import check, plan_text  # noqa: E402

from hawaiidatapipeline_spark.queries import collect  # noqa: E402

SF = "/root/testdata/sf0.001"


def _audit(spark, name):
    queries, _ = collect()
    p = plan_text(queries[name](spark, SF))
    failures = [(label, why) for label, ok, why in check(name, p) if not ok]
    assert not failures, f"{name}: {failures}\n{p}"


def test_pricing_summary_plan(spark):
    _audit(spark, "pricing_summary")


def test_broadcast_join_plan(spark):
    _audit(spark, "join_inner_broadcast")


def test_topk_global_fuses(spark):
    _audit(spark, "topk_global")


def test_url_dedup_plan(spark):
    _audit(spark, "llm_dedup_url")


def test_incremental_dedup_plan(spark):
    _audit(spark, "etl_dedup_incremental")


def test_corr_deterministic_plan(spark):
    _audit(spark, "agg_corr_deterministic")


def test_crawl_pipeline_v4_plan(spark):
    _audit(spark, "llm_corpus_pipeline_v4")


def test_fuzzy_join_plan(spark):
    _audit(spark, "join_fuzzy_blocked")
