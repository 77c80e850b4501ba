"""Physical-plan regression tests: the scale properties that make this
engine viable at 100 TB are asserted on the plans themselves, so a
refactor that silently adds a shuffle or drops a pushdown fails CI."""

from __future__ import annotations

import pytest

from slowfast_feature_extractor_spark.plans.featurize import featurize_pages
from slowfast_feature_extractor_spark.plans.queries import REGISTRY

from conftest import SF_TINY


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_featurize_single_shuffle(spark, pages_df):
    """The whole dual-rate+as-of pipeline = ONE Exchange, ONE Sort, and
    the extraction UDF evaluated exactly once."""
    plan = _plan(featurize_pages(pages_df))
    assert plan.count("Exchange") == 1
    assert plan.count("+- Sort") == 1
    assert plan.count("extract_text_udf") == 1
    assert plan.count("ArrowEvalPython") == 2  # extraction head + resamples tail


def test_featurize_anchor_test_lags_once(spark, pages_df):
    """The day-anchor test reads the predecessor's ts through ONE lag
    window function: Spark keeps a lag written twice as two."""
    plan = _plan(featurize_pages(pages_df, chunk_trunc=None))
    assert plan.count("lag(") == 1, plan


def test_pushdown_reaches_scan(spark):
    plan = _plan(REGISTRY["pushdown_scan"][0](spark, SF_TINY))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    read = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_comment" not in read  # column pruning


def test_dim_joins_broadcast(spark):
    plan = _plan(REGISTRY["broadcast_dim_join"][0](spark, SF_TINY))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_window_families_share_one_exchange(spark):
    plan = _plan(REGISTRY["window_dual_rate"][0](spark, SF_TINY))
    assert plan.count("Exchange") == 1  # fast+slow+hist over one sort


def test_asof_is_single_shuffle(spark):
    plan = _plan(REGISTRY["asof_join"][0](spark, SF_TINY))
    # union-tag as-of: exactly one exchange for the window partition
    assert plan.count("Exchange") == 1
    assert "Window" in plan


@pytest.mark.parametrize("name", ["dedup_jaccard", "dedup_minhash_lsh"])
def test_pair_candidates_are_joinless_combinations(spark, name):
    """r7: candidate generation (shared-shingle pairs / LSH band
    collisions) is a grouped posting-list expansion — Generate over
    sorted id arrays — so the exploded index is never self-JOINED and no
    join strategy can broadcast a misestimated big side (the r6 hazard:
    5x run-to-run variance when AQE broadcast the banded table)."""
    plan = _plan(REGISTRY[name][0](spark, SF_TINY))
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_pairs_no_cross_join(spark):
    """Banded pigeonhole blocking: candidates come from an equi-join on
    (band, bucket), never a cartesian product."""
    plan = _plan(REGISTRY["dedup_simhash_pairs"][0](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_part_supplier_revenue_broadcasts_all_dims(spark):
    """The 3-way dim join must never shuffle the fact side."""
    plan = _plan(REGISTRY["part_supplier_revenue"][0](spark, SF_TINY))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_corpus_clean_single_scan_single_exchange(spark):
    """Lang gate + quality gate + dedup-keep compose over ONE documents
    scan with the dedup window's hash partition as the only Exchange."""
    plan = _plan(REGISTRY["corpus_clean"][0](spark, SF_TINY))
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange") <= 2  # md5 window hash (+scan-guard round robin)
