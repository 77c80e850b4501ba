"""resample_to_k semantics (the reference's pad/truncate + resample,
reference/test_net.py:126-136 and reference/just_test_v1.py:816-823) and
the sequential cosine fold."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.functions.vector import (
    cosine_similarity,
    resample_to_k_np,
    resample_udf,
)


def test_resample_semantics():
    assert list(resample_to_k_np([], 4)) == [0.0] * 4          # zero-pad
    assert list(resample_to_k_np([7.0], 4)) == [7.0] * 4       # repeat-last
    np.testing.assert_allclose(resample_to_k_np([0.0, 1.0], 3), [0.0, 0.5, 1.0])
    np.testing.assert_allclose(  # identity when lengths match
        resample_to_k_np([1.0, 2.0, 3.0], 3), [1.0, 2.0, 3.0]
    )
    down = resample_to_k_np(list(range(10)), 5)
    assert down[0] == 0.0 and down[-1] == 9.0  # endpoints preserved


def test_resample_batch_bit_exact_vs_per_row():
    """The vectorized length-grouped batch resample must be
    BIT-identical to per-row np.interp (the DuckDB oracle replicates
    np.interp exactly, so any ULP drift breaks the hash gate)."""
    from slowfast_feature_extractor_spark.functions.vector import resample_batch_np

    rng = np.random.default_rng(42)
    arrs = [None]
    for _ in range(5000):
        L = int(rng.integers(0, 66))
        arrs.append(rng.integers(1, 100_000, size=L).astype(np.float64))
    for k in (8, 32):
        batch = resample_batch_np(arrs, k)
        assert batch[0] is None  # null passthrough
        for i, a in enumerate(arrs[1:], start=1):
            ref = resample_to_k_np(a, k)
            assert np.array_equal(np.asarray(batch[i]), ref), (i, len(a), k)


def test_resample_udf_matches_numpy(spark):
    rows = [(1, [1.0, 5.0, 2.0]), (2, []), (3, None), (4, [3.0])]
    df = spark.createDataFrame(rows, schema="id long, v array<double>")
    got = {r["id"]: r["out"] for r in
           df.select("id", resample_udf(4)(F.col("v")).alias("out")).collect()}
    np.testing.assert_allclose(got[1], resample_to_k_np([1.0, 5.0, 2.0], 4))
    assert got[2] == [0.0] * 4
    assert got[3] is None  # null passes through (anchor masking relies on it)
    assert got[4] == [3.0] * 4


def test_cosine_fold(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [2.0, 4.0]),
         ([0.0, 0.0], [1.0, 0.0])],
        schema="a array<double>, b array<double>",
    )
    sims = [r[0] for r in df.select(cosine_similarity(F.col("a"), F.col("b"))).collect()]
    assert sims[0] == 1.0 and sims[1] == 0.0
    assert abs(sims[2] - 1.0) < 1e-12
    assert sims[3] is None  # zero norm: NULL, not DIVIDE_BY_ZERO under ANSI
