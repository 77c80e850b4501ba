"""Physical-plan invariants over the whole registry — the scale
properties the engine claims, asserted mechanically so a future edit
cannot silently regress them:

1. no per-row Python (``BatchEvalPython``) anywhere — only Arrow-batched
   UDF nodes (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas);
2. no cartesian products; broadcast-nested-loop joins only where a
   deliberately-broadcast 1-row aggregate (corpus total) feeds a scalar
   into every row;
3. no SinglePartition shuffle on a corpus-sized relation — only the
   whitelisted metadata-scale reductions (64 shard offsets, a 1-row
   total, a global percentile frame).

Plans are compiled (not executed) at sf0.001. Rows whose *builder*
already runs a job — streaming rows that execute a query, the CSV
round-trip, iterative/kmeans fitters — are exercised by their own
oracle rows and excluded here with the reason recorded.
"""

from __future__ import annotations

import pytest

from slowfast_feature_extractor_spark.plans.queries import REGISTRY
from slowfast_feature_extractor_spark.session import query_scope

from conftest import SF_TINY

# builder executes real work (streams / writes / iterative fits): plan
# compilation alone would run it — covered by their oracle rows instead
_EXECUTES_IN_BUILDER = {
    "manifest_scan",        # writes + re-reads a CSV manifest
    "jsonl_scan",           # writes + re-reads a JSONL shard
    "orc_scan",             # writes + re-reads a partitioned ORC table
    "sessionize_streamed",  # runs an availableNow streaming query
    "dedup_streamed",       # runs an availableNow streaming query
    "dual_rate_streamed",   # runs an availableNow streaming query
    "warc_streamed",        # runs an availableNow streaming query
    "stream_join",          # runs an availableNow streaming query
    "dedup_clusters",       # iterative label propagation (count per round)
    "dedup_clusters_star",  # iterative star contraction (count per round)
    "knn_ivf",              # kmeans fit collects sampled centroids
    "knn_ivf_fullprobe",
    "knn_ivfpq",            # seed-codebook collect (16 rows) in builder
    "knn_ivfpq_ivf",        # seed codebook + cell centroid collects
    "dedup_canonical",      # wraps dedup_clusters_star's iterative loop
    "redirect_resolve",     # per-round localCheckpoint runs jobs
    "json_export",          # single-blob export relation
}

# 1-row aggregate deliberately broadcast into every row — the only
# legitimate BroadcastNestedLoopJoin shape (verified exact: no other
# registry plan contains a BNLJ)
_SCALAR_BROADCAST_OK = {
    "lm_unigram_score",   # corpus token total (1 row)
    "dsir_score",         # 1-row corpus feature totals
    "pagerank2",          # node count n (1 row)
    "dedup_semantic",     # k=8 seed-centroid table fanned into every row
    "heavy_hitters",      # 1-row exact token total vs candidate counts
    "lm_bigram_score",    # 1-row train-token total (stupid-backoff N)
    "bm25_topk",          # 1-row corpus stats (n_docs, total length)
    "collocations",       # 1-row corpus token total
    "mixture_weights",    # 1-row totals (tot_tokens, n_groups)
}

# SinglePartition exchanges allowed: reductions whose input is already
# metadata-scale (verified exact: no other registry plan contains one)
_SINGLE_PARTITION_OK = {
    "sequence_pack",      # 64 shard totals -> prefix offsets
    "group_weights",      # class-count reduction (|classes| rows)
    "lm_unigram_score",   # 1-row corpus total
    "dsir_score",         # 1-row feature totals
    "pagerank2",          # 1-row node count
    "heavy_hitters",      # 1-row exact token total
    "lm_bigram_score",    # 1-row train-token total
    "bm25_topk",          # 1-row stats + 20-row query-term limit
    "collocations",       # 1-row token total
    "mixture_weights",    # 1-row totals
}

_PLAN_NAMES = sorted(set(REGISTRY) - _EXECUTES_IN_BUILDER)


@pytest.fixture(scope="module")
def plans(spark):
    # one scope per row: a persist left by one builder would otherwise
    # turn up as an InMemoryTableScan in a later row's plan
    out = {}
    for name in _PLAN_NAMES:
        with query_scope(spark):
            df = REGISTRY[name][0](spark, SF_TINY)
            out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


@pytest.mark.parametrize("name", _PLAN_NAMES)
def test_no_per_row_python(plans, name):
    assert "BatchEvalPython" not in plans[name], (
        f"{name}: row-at-a-time Python UDF in the hot path"
    )


@pytest.mark.parametrize("name", _PLAN_NAMES)
def test_no_cartesian(plans, name):
    assert "CartesianProduct" not in plans[name], f"{name}: cartesian join"
    if name not in _SCALAR_BROADCAST_OK:
        assert "BroadcastNestedLoopJoin" not in plans[name], (
            f"{name}: non-equi broadcast join outside the scalar whitelist"
        )


@pytest.mark.parametrize("name", _PLAN_NAMES)
def test_no_big_single_partition(plans, name):
    if name in _SINGLE_PARTITION_OK:
        return
    assert "Exchange SinglePartition" not in plans[name], (
        f"{name}: corpus-sized relation collapsed to one partition"
    )
