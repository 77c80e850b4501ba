"""Every registry query vs its DuckDB oracle at sf0.001 — the local
mirror of the driver's correctness gate."""

from __future__ import annotations

import pytest

from slowfast_feature_extractor_spark.plans.compare import compare
from slowfast_feature_extractor_spark.plans.queries import REGISTRY

from conftest import SF_TINY


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, name):
    fn, sql = REGISTRY[name]
    if sql is None:
        df = fn(spark, SF_TINY)
        assert df.count() >= 0  # rows-only check (non-SQL-expressible op)
        return
    ok, msg = compare(spark, SF_TINY, fn, sql)
    assert ok, f"{name}: {msg}"


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20


# rows whose plans carry chunk-carry, window-family and Arrow-UDF stages:
# their outputs must not move with the physical knobs
_KNOB_ROWS = (
    "pit_dual_rate", "pit_dual_rate_chunked", "featurize_pages",
    "featurize_pages_chunked", "sessionize_chunked", "window_dual_rate_chunked",
)


@pytest.mark.parametrize(
    "key, value",
    [("spark.sql.shuffle.partitions", "1"),
     ("spark.sql.execution.arrow.maxRecordsPerBatch", "7")],
)
def test_rows_match_oracle_under_physical_knob(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        for name in _KNOB_ROWS:
            fn, sql = REGISTRY[name]
            ok, msg = compare(spark, SF_TINY, fn, sql)
            assert ok, f"{name} with {key}={value}: {msg}"
    finally:
        spark.conf.set(key, old)
