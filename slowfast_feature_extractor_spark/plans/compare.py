"""Spark-vs-DuckDB comparison harness mimicking the driver's correctness
gate: run the Spark query and the oracle SQL on the same parquet tables,
sort columns by name and rows by all columns, and compare **dtype-exactly**
— the driver's value hash is dtype-sensitive (round 1 proved that a
DuckDB SUM(BIGINT)->HUGEINT->float64 column hash-fails against Spark's
int64 even when every value is equal), so this harness fails on any
pandas-dtype divergence and on any exact-value divergence.  Floats are
compared bit-for-bit (the registry queries round float-bearing columns
to 6dp in BOTH engines, which makes doubles reproducible)."""

from __future__ import annotations

import math
import os
from datetime import datetime

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from slowfast_feature_extractor_spark.session import footprint, query_scope
from slowfast_feature_extractor_spark.sources.tables import TABLE_NAMES


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    key = df.astype(str)
    order = key.sort_values(by=list(key.columns), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


_INT_TYPES = (int, np.integer)
_FLOAT_TYPES = (float, np.floating)


def _values_equal(a, b) -> bool:
    """Exact, type-strict equality: int vs float is a mismatch (dtype
    divergence), floats must be bit-equal (or both NaN)."""
    if a is None and b is None:
        return True
    if isinstance(a, _FLOAT_TYPES) and isinstance(b, _FLOAT_TYPES):
        if math.isnan(a) and math.isnan(b):
            return True
        return float(a) == float(b)
    if isinstance(a, _INT_TYPES) and isinstance(b, _INT_TYPES):
        return int(a) == int(b)
    # int-vs-float = dtype divergence the driver's hash would catch
    if (isinstance(a, _INT_TYPES) and isinstance(b, _FLOAT_TYPES)) or (
        isinstance(a, _FLOAT_TYPES) and isinstance(b, _INT_TYPES)
    ):
        return False
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, datetime) and isinstance(b, datetime):
        return a == b
    if isinstance(a, (list, tuple, np.ndarray)) or isinstance(b, (list, tuple, np.ndarray)):
        a, b = list(a), list(b)
        return len(a) == len(b) and all(_values_equal(x, y) for x, y in zip(a, b))
    return a == b


def compare(
    spark: SparkSession, sf_dir: str, query_fn, oracle: str, max_report: int = 5
) -> tuple[bool, str]:
    """Run ``query_fn`` inside :func:`query_scope` and compare it with
    ``oracle``. Fails when the scope leaves ``spark`` holding anything
    it did not hold before: a persisted RDD, a cache entry, a catalog
    table or view, or a scratch directory."""
    with query_scope(spark) as before:
        got = _canon(query_fn(spark, sf_dir).toPandas())
    after = footprint(spark)
    leaked = {k: sorted(map(str, after[k].keys() - before[k].keys())) for k in before}
    if any(leaked.values()):
        return False, f"left behind by the query's scope: {leaked}"
    con = duckdb_con(sf_dir)
    want = _canon(con.sql(oracle).df())
    con.close()

    if sorted(got.columns) != sorted(want.columns):
        return False, f"column mismatch: spark={sorted(got.columns)} oracle={sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"row count mismatch: spark={len(got)} oracle={len(want)}"
    # Compare dtype KIND, not width: round 1 showed the driver's hash
    # treats int32==int64 (knn_bruteforce rank was green) but int!=float
    # (the 7 HUGEINT->float64 oracles were red despite equal values).
    dtype_diffs = [
        f"dtype kind mismatch col={c}: spark={got[c].dtype} oracle={want[c].dtype}"
        for c in got.columns
        if got[c].dtype.kind != want[c].dtype.kind
    ]
    if dtype_diffs:
        return False, "; ".join(dtype_diffs[:max_report])
    diffs = []
    for c in got.columns:
        ga, wa = got[c].tolist(), want[c].tolist()
        for i, (a, b) in enumerate(zip(ga, wa)):
            if not _values_equal(a, b):
                diffs.append(f"col={c} row={i}: spark={a!r} oracle={b!r}")
                if len(diffs) >= max_report:
                    return False, "; ".join(diffs)
    if diffs:
        return False, "; ".join(diffs)
    return True, f"ok ({len(got)} rows)"
