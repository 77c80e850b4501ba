"""Trailing-window feature operators: dual-rate (slow/fast) aggregations,
lag/lead, and backfill.

The reference samples every segment at two rates — fast: stride
``len/NUM_FRAMES`` taking 32 frames (reference/test_net.py:62-67); slow:
stride ``len/(NUM_FRAMES/ALPHA)`` taking 8 (reference/test_net.py:69-74)
— and its per-frame dataset builds a *centered* window around each index
(reference/datasets/videoset.py:181-208), which reads future frames.

This engine re-expresses both as *trailing* windows per entity ordered by
timestamp, with a ``strict`` mode whose frame ends at ``-1 PRECEDING`` so
a feature at (entity, ts) uses only strictly-earlier rows — zero temporal
leakage by construction. Boundary zero-padding of the reference
(reference/datasets/videoset.py:194-196) becomes null aggregates on rows
with insufficient history (count columns expose how much history existed).

All of this is built-in window frames: one hash partition on the entity +
one in-partition sort serves every window family at once (the analog of
the reference computing low/mid/deep features from a single forward pass,
reference/just_test_v1.py:544-583 — one Exchange, many aggregates).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.operators.skew import carry_window


def _order_cols(ts: str, tiebreak: Sequence[str] | str | None) -> list[str]:
    tb = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or ())
    return [ts, *tb]


def _entity_window(
    entity: Sequence[str] | str, ts: str, tiebreak: Sequence[str] | str | None = None
) -> WindowSpec:
    """Entity partition ordered by ts. ``tiebreak`` appends deterministic
    ordering columns (e.g. an event id) so ROWS frames are well-defined
    when (entity, ts) is not unique; without it, callers must guarantee
    unique (entity, ts) — the natural key of a crawl-snapshot table."""
    keys = [entity] if isinstance(entity, str) else list(entity)
    return Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc() for c in _order_cols(ts, tiebreak)]
    )


def dual_rate_features(
    df: DataFrame,
    entity: str = "url",
    ts: str = "warc_ts",
    measure: str = "value",
    fast_rows: int = 8,
    slow_rows: int = 64,
    strict: bool = True,
    prefix_fast: str = "fast",
    prefix_slow: str = "slow",
    round_to: int | None = None,
    tiebreak: Sequence[str] | str | None = None,
    chunk: Column | None = None,
) -> DataFrame:
    """Attach fast (fine) + slow (coarse) trailing-window aggregates of
    ``measure`` to every row, plus leakage-audit columns.

    strict=True (default): frames end at 1 PRECEDING — only strictly
    earlier rows contribute (north-rule zero-leakage mode). Rows with no
    history get null aggregates and ``*_cnt = 0``.

    Emitted per rate: ``{p}_avg {p}_sum {p}_min {p}_max {p}_cnt``; plus
    ``n_hist_rows`` (total strictly-earlier rows for the entity) and
    ``max_input_ts`` (latest contributing timestamp — the leakage bound;
    the audit asserts max_input_ts < ts everywhere when strict).

    ``chunk``: optional expression monotone in ``ts`` per entity (e.g.
    ``F.to_date(F.col("ts"))``) enabling the skew-robust plan
    (operators/skew.py): the family runs per (entity, chunk), each chunk
    seeded with the ``slow_rows`` rows before it, and ``n_hist_rows``
    adds the row counts of earlier chunks. Same columns and values as
    the plain plan; requires ``fast_rows <= slow_rows`` (the carry bound).
    Size chunks so rows-per-chunk >> ``slow_rows``: each chunk pays a
    ≤ ``slow_rows``-row carry, so day chunks on a million-revisit url are
    ideal while SPARSE entities want coarser chunks (or the plain plan —
    chunking buys nothing when one entity fits one task).
    """
    end = -1 if strict else 0
    m = F.col(measure)

    def family(rows: DataFrame, w: WindowSpec, real: Column) -> DataFrame:
        out = rows
        for p, k in ((prefix_fast, fast_rows), (prefix_slow, slow_rows)):
            frame = w.rowsBetween(end - (k - 1), end)
            avg, s = F.avg(m).over(frame), F.sum(m).over(frame)
            if round_to is not None:
                avg, s = F.round(avg, round_to), F.round(s, round_to)
            out = (
                out.withColumn(f"{p}_avg", avg)
                .withColumn(f"{p}_sum", s)
                .withColumn(f"{p}_min", F.min(m).over(frame))
                .withColumn(f"{p}_max", F.max(m).over(frame))
                .withColumn(f"{p}_cnt", F.count(m).over(frame))
            )
        hist = w.rowsBetween(Window.unboundedPreceding, end)
        return out.withColumn(
            "n_hist_rows", F.count(F.when(real, F.lit(1))).over(hist)
        ).withColumn("max_input_ts", F.max(F.col(ts)).over(hist))

    if chunk is None:
        return family(df, _entity_window(entity, ts, tiebreak), F.lit(True))
    if fast_rows > slow_rows:
        raise ValueError("fast_rows must be <= slow_rows (carry bound)")
    return carry_window(
        df, entity, _order_cols(ts, tiebreak), chunk, slow_rows, [measure],
        family, "n_hist_rows",
    )


def windowed_vector(
    df: DataFrame,
    entity: str = "url",
    ts: str = "warc_ts",
    measure: str = "value",
    rows: int = 8,
    strict: bool = True,
    out_col: str = "vec",
    tiebreak: Sequence[str] | str | None = None,
) -> DataFrame:
    """Trailing window of the last ``rows`` measures as an ordered array
    (oldest→newest) — the raw material for fixed-length resampling
    (functions.vector.resample_to_k), mirroring the reference's
    fixed-size frame buffers (reference/test_net.py:126-136)."""
    end = -1 if strict else 0
    frame = _entity_window(entity, ts, tiebreak).rowsBetween(end - (rows - 1), end)
    return df.withColumn(out_col, F.collect_list(F.col(measure)).over(frame))


def span_sample(arr, num_frames: int, stride: int, align: str = "center"):
    """W4 contiguous-span sampling (reference/hiera_test.py:109-125,
    videoMAE_test.py:105-122): pick ``num_frames`` elements from an
    ordered array at fixed ``stride``, starting at the centered offset
    ``(len - num_frames*stride) // 2`` (``align='center'``, the eval
    path; 'start'/'end' for the boundary variants — random start is
    train-only, out of scope per SURVEY §2.5). Short arrays clamp to the
    last element (the reference's pad-repeat-last,
    reference/test_net.py:126-136); empty arrays stay empty. Pure
    Column expression — no UDF, fully codegen'd."""
    span = num_frames * stride
    vlen = F.size(arr)
    if align == "center":
        start = F.when(
            vlen >= span, F.floor((vlen - F.lit(span)) / 2).cast("int")
        ).otherwise(F.lit(0))
    elif align == "start":
        start = F.lit(0)
    elif align == "end":
        start = F.greatest(F.lit(0), (vlen - F.lit(span)).cast("int"))
    else:
        raise ValueError(f"unknown align: {align!r}")
    idxs = F.transform(
        F.sequence(F.lit(0), F.lit(num_frames - 1)),
        lambda i: F.least(start + i * F.lit(stride), vlen - 1),
    )
    picked = F.transform(idxs, lambda j: F.element_at(arr, j + 1))
    # empty input -> empty output of the same element type
    return F.when(vlen == 0, F.slice(arr, 1, 0)).otherwise(picked)


def lag_lead(
    df: DataFrame,
    entity: str = "url",
    ts: str = "warc_ts",
    cols: Sequence[str] = ("value",),
    offsets: Sequence[int] = (1,),
    tiebreak: Sequence[str] | str | None = None,
) -> DataFrame:
    """Explicit lag/lead API (SURVEY.md W7). ``lag_{c}_{n}`` /
    ``lead_{c}_{n}`` per column and offset; null at history boundaries
    (the analog of the reference's zero-padded window edges,
    reference/datasets/videoset.py:194-196)."""
    w = _entity_window(entity, ts, tiebreak)
    out = df
    for c in cols:
        for n in offsets:
            out = out.withColumn(f"lag_{c}_{n}", F.lag(c, n).over(w))
            out = out.withColumn(f"lead_{c}_{n}", F.lead(c, n).over(w))
    return out


def backfill(
    df: DataFrame,
    entity: str = "url",
    ts: str = "warc_ts",
    cols: Sequence[str] = ("value",),
    suffix: str = "_filled",
    tiebreak: Sequence[str] | str | None = None,
) -> DataFrame:
    """Forward-fill the last non-null value per entity in timestamp order
    (the reference's buffer-last-seen-per-key,
    reference/just_test_v1.py:842-845). Point-in-time safe: only earlier
    or current rows are read."""
    frame = _entity_window(entity, ts, tiebreak).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = df
    for c in cols:
        out = out.withColumn(c + suffix, F.last(c, ignorenulls=True).over(frame))
    return out


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    tokens_col,
    window: int,
    stride: int,
) -> DataFrame:
    """Split each row's token array into overlapping fixed-size windows
    — the doc→training-example conversion (W4 contiguous-span sampling
    applied corpus-wide; feeds ``sequence_pack``).

    ``tokens_col`` is a Column producing the token array. It is
    materialized behind a projection alias referenced by both size()
    and slice() (multiply-referenced expensive aliases block
    CollapseProject — NOTES #12), and the chunk starts are generated
    with ``explode_outer`` so InferFiltersFromGenerate cannot re-inline
    the tokenizer into a scan filter (NOTES #13): the tokenizer runs
    exactly once per row. Map-only, zero shuffles; every row — even an
    empty one — yields its chunk 0 so downstream accounting sees the
    full corpus.

    Output: id_col, chunk_id, chunk (array slice), chunk_len.
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    # A NULL token array must count as 0 tokens HERE: size(NULL) is
    # NULL, and downstream greatest/least silently SKIP NULL operands,
    # which would emit chunk_len = window for a doc with no tokens at
    # all. With __n pinned to 0 a NULL-array doc yields its chunk 0 as
    # (chunk=NULL, chunk_len=0) — same accounting as an empty array.
    base = df.select(F.col(id_col), tokens_col.alias("__toks")).select(
        id_col, "__toks", F.coalesce(F.size("__toks"), F.lit(0)).alias("__n")
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("__n") - 1, F.lit(0)), F.lit(stride)
    )
    ch = base.select(
        id_col, "__toks", "__n", F.explode_outer(starts).alias("__start")
    )
    return ch.select(
        id_col,
        (F.col("__start") / stride).cast("int").alias("chunk_id"),
        F.slice("__toks", F.col("__start") + 1, F.lit(window)).alias("chunk"),
        F.least(F.col("__n") - F.col("__start"), F.lit(window))
        .cast("int")
        .alias("chunk_len"),
    )
