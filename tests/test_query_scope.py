"""``query_scope`` releases what a registry row creates, and only that;
``_scratch`` gives each row one directory holding one generation."""

from __future__ import annotations

import os

from slowfast_feature_extractor_spark.plans.queries import REGISTRY
from slowfast_feature_extractor_spark.session import _scratch, footprint, query_scope

from conftest import SF_TINY


def test_scope_releases_only_what_it_created(spark):
    kept = spark.range(10).persist()
    kept.count()
    before = footprint(spark)
    with query_scope(spark):
        spark.range(100).persist().count()
        spark.range(50).localCheckpoint(eager=True)
        spark.range(3).createOrReplaceTempView("v_scope_test")
        d = _scratch("scope_test")
        spark.range(3).write.option("path", os.path.join(d, "t")).saveAsTable("sfe_scope_test")
        inside = footprint(spark)
        assert all(inside[k].keys() - before[k].keys() for k in before)
    after = footprint(spark)
    assert not any(after[k].keys() - before[k].keys() for k in before)
    assert after["cache"].keys() == before["cache"].keys()  # `kept` stays cached
    kept.unpersist()


def test_scratch_holds_one_generation():
    d = _scratch("scope_generation")
    open(os.path.join(d, "old"), "w").close()
    assert _scratch("scope_generation") == d
    assert os.listdir(d) == []


def test_released_persist_does_not_reach_a_later_row(spark):
    """``decontaminate_bloom`` persists the shingle table that
    ``decontaminate`` also builds. Released with its scope, it cannot
    turn up in ``decontaminate``'s plan as an ``InMemoryTableScan``."""
    spark.catalog.clearCache()  # only the first row may supply a cached plan
    for name in ("decontaminate_bloom", "decontaminate"):
        with query_scope(spark):
            df = REGISTRY[name][0](spark, SF_TINY)
            df.count()
            plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan
