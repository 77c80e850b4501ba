"""Sort-merge as-of join (point-in-time join).

The reference fuses its slow and fast pathways by zipping two tensors
sampled from the same segment (reference/test_net.py:144,
reference/just_test_v1.py:234) — an implicit as-of alignment on the time
axis. OSS Spark has no as-of join, so this operator composes one from
built-ins as a *single-shuffle, sort-merge-shaped* plan:

1. tag left rows and right rows, union them by (keys, ts, side);
2. one window ``partitionBy(keys).orderBy(ts, side, tiebreak)`` — a single
   Exchange + sort, exactly the shape a native sort-merge as-of join
   would produce;
3. ``last(right_payload, ignorenulls=True)`` over the running frame
   carries the most recent right row forward onto each left row;
4. filter back to left rows; enforce tolerance / inner semantics.

Semantics knobs mirror ``pandas.merge_asof``:

- ``allow_exact_matches=True``  → match right rows with ``r.ts <= l.ts``
  (right sorts *before* left at equal ts);
- ``allow_exact_matches=False`` → strict ``r.ts < l.ts`` — this is the
  zero-temporal-leakage mode mandated by the north rule (right sorts
  *after* left at equal ts, so an equal-ts right row is invisible);
- ``tolerance_seconds`` → matches older than the tolerance are nulled.

Ties among multiple right rows at the same (keys, ts) are resolved
deterministically: the one with the greatest payload struct wins, compared
field by field in ``right_cols`` order (callers wanting a specific winner
put its key first in ``right_cols`` or pre-deduplicate the right side).

Scale notes (10^12-row target): the plan is one shuffle hash-partitioned
on the by-keys with an in-partition sort — the same cost envelope as a
sort-merge join. Hot entities (urls with millions of revisits) make one
partition large; AQE cannot split a window partition, so for
pathological key skew pass ``chunk=`` (range-partition-with-carry, the
same treatment operators/skew.py applies to the window family): the
merged stream partitions by (keys, time-chunk) and each chunk is seeded
with a single carry row — the latest right row from all earlier chunks,
computed from a per-chunk maximum (a tiny relation, one row per
(keys, chunk)). Results are exactly equal to the unchunked plan
(parity-tested), and a hot entity's sort parallelizes across its chunks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.functions.timeutil import epoch_seconds

_SIDE = "__asof_side"
_PAYLOAD = "__asof_payload"
_CARRIED = "__asof_carried"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: Sequence[str] = ("url",),
    right_cols: Sequence[str] | None = None,
    allow_exact_matches: bool = True,
    tolerance_seconds: float | None = None,
    suffix: str = "_right",
    how: str = "left",
    matched_ts_col: str | None = "matched_ts",
    chunk: Column | None = None,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.on <= left.on`` (or ``<`` when ``allow_exact_matches=False``)
    within the same ``by`` keys.

    Returns all left columns, plus each requested right column (renamed
    with ``suffix`` on name collision), plus ``matched_ts_col`` holding
    the timestamp of the matched right row (null when no match).

    ``chunk``: optional expression over the ``on`` column (MUST be
    monotone in it, e.g. ``F.to_date(F.col("ts"))``) enabling the
    skew-robust chunked plan — see module docstring. Same results,
    partitioned by (by, chunk) instead of (by).
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    by = list(by)
    # null right keys cannot be "the latest row <= left.on" — without
    # this they sort NULLS FIRST and their payload is carried into
    # every left row before the first real right row (pandas
    # merge_asof rejects null keys outright; dropping matches its
    # semantics for the right side; null LEFT keys simply get no match)
    right = right.filter(F.col(on).isNotNull())
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in by and c != on]

    out_names = {}
    left_names = set(left.columns)
    for c in right_cols:
        out = c + suffix if c in left_names else c
        if out in left_names and c + suffix in left_names:
            raise ValueError(f"cannot disambiguate right column {c!r}")
        out_names[c] = out

    # Side ordering decides visibility of equal-ts right rows (see module
    # docstring). last() over the running frame takes the max in sort
    # order, so "right before left" == exact matches allowed.
    right_side = 0 if allow_exact_matches else 2
    left_side = 1

    payload = F.struct(
        F.col(on).alias("__ts"), *[F.col(c).alias(c) for c in right_cols]
    )
    r = right.select(
        *[F.col(c) for c in by],
        F.col(on).alias(on),
        F.lit(right_side).alias(_SIDE),
        payload.alias(_PAYLOAD),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in by and c != on],
    )
    l = left.select(
        *[F.col(c) for c in by],
        F.col(on).alias(on),
        F.lit(left_side).alias(_SIDE),
        F.lit(None).cast(r.schema[_PAYLOAD].dataType).alias(_PAYLOAD),
        *[F.col(c) for c in left.columns if c not in by and c != on],
    )
    merged = r.unionByName(l.select(*r.columns))

    part_keys = list(by)
    if chunk is not None:
        from pyspark import StorageLevel

        # TWO consumers below (the per-chunk-last carry aggregate and
        # the union's base side): without a persist each re-evaluates
        # the full left+right upstream — in composed plans
        # (pit_dual_rate_from(chunk_trunc=...)) that is the entire
        # chunked window pipeline twice
        merged = merged.withColumn("__chunk", chunk).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        # latest right row per (by, chunk): struct max == latest (ts,
        # payload) — one row per chunk, a tiny relation
        # every chunk (left-only chunks included — they still need a
        # carry); the max is conditional on right rows, null otherwise
        per_chunk_last = merged.groupBy(*by, "__chunk").agg(
            F.max(
                F.when(
                    F.col(_PAYLOAD).isNotNull(),
                    F.struct(F.col(on).alias("__ts"), F.col(_PAYLOAD).alias("__p")),
                )
            ).alias("__last")
        )
        # carry for chunk k = latest right row over all chunks < k
        # (chunk is monotone in ts, so this is the true predecessor)
        w_prefix = (
            Window.partitionBy(*by)
            .orderBy("__chunk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carries = (
            per_chunk_last.withColumn("__carry", F.max("__last").over(w_prefix))
            .filter(F.col("__carry").isNotNull())
            .select(
                *[F.col(c) for c in by],
                F.col("__carry")["__ts"].alias(on),
                F.lit(right_side).alias(_SIDE),
                F.col("__carry")["__p"].alias(_PAYLOAD),
                *[F.lit(None).cast(left.schema[c].dataType).alias(c)
                  for c in left.columns if c not in by and c != on],
                F.col("__chunk"),
            )
        )
        merged = merged.unionByName(carries.select(*merged.columns))
        part_keys = [*by, "__chunk"]

    w = (
        Window.partitionBy(*part_keys)
        .orderBy(F.col(on).asc(), F.col(_SIDE).asc(), F.col(_PAYLOAD).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn(_CARRIED, F.last(_PAYLOAD, ignorenulls=True).over(w))

    out = carried.filter(F.col(_SIDE) == left_side)

    match: Column = F.col(_CARRIED)
    if tolerance_seconds is not None:
        type_name = left.schema[on].dataType.typeName()
        if type_name.startswith("timestamp"):
            to_num = epoch_seconds
        elif type_name == "date":
            # DATE cannot cast to DOUBLE; days-since-epoch × 86400
            def to_num(c):
                return F.unix_date(c).cast("double") * 86400.0
        else:
            def to_num(c):
                return c.cast("double")
        age = to_num(F.col(on)) - to_num(F.col(_CARRIED)["__ts"])
        match = F.when(age <= F.lit(float(tolerance_seconds)), F.col(_CARRIED))

    # the match PROBE is always the matched __ts (non-null exactly when
    # a match exists — right null keys are filtered above): probing a
    # payload column would silently drop matched rows whose payload
    # VALUE is null, and crash when right_cols is empty
    internal_ts = matched_ts_col or "__asof_matched_ts"
    proj = [F.col(c) for c in left.columns]
    proj.append(match["__ts"].alias(internal_ts))
    proj += [match[c].alias(out_names[c]) for c in right_cols]
    out = out.select(*proj)

    if how == "inner":
        out = out.filter(F.col(internal_ts).isNotNull())
    if not matched_ts_col:
        out = out.drop(internal_ts)
    return out


def interval_join(
    windows: DataFrame,
    events: DataFrame,
    key_cols: list[str],
    w_start: str,
    w_end: str,
    e_ts: str,
    bucket_seconds: int,
) -> DataFrame:
    """Batch interval join — events matched into [w_start, w_end]
    windows per key — executed as a BUCKETED EQUI-JOIN, never a
    nested-loop.

    Spark plans a bare non-equi time predicate as
    BroadcastNestedLoopJoin (one side broadcast whole, |W|x|E|
    comparisons per key) — a hard scale ceiling. Instead each window is
    exploded into the time buckets it spans (ceil(span/bucket)+1 copies
    — a few, when bucket_seconds ~ window span), each event maps to
    exactly ONE bucket, and the join runs as a shuffled equi-join on
    (key, bucket) with the exact BETWEEN predicate as a residual
    filter. Every (window, event) pair meets exactly once — the event's
    single bucket matches at most one copy of the window — so no
    post-join dedup is needed. Shuffle volume: |E| + |W| x copies,
    spillable sort-merge, AQE-splittable on hot keys.

    The batch twin of the watermarked stream-stream interval join
    (``stream_join``); same attribution semantics, arbitrary history
    depth. Returns windows x matched events (inner).
    """
    wb = windows.withColumn(
        "__b",
        F.explode(
            F.sequence(
                (F.unix_timestamp(F.col(w_start)) / bucket_seconds).cast("long"),
                (F.unix_timestamp(F.col(w_end)) / bucket_seconds).cast("long"),
            )
        ),
    )
    eb = events.withColumn(
        "__b", (F.unix_timestamp(F.col(e_ts)) / bucket_seconds).cast("long")
    )
    joined = wb.join(eb, on=[*key_cols, "__b"]).filter(
        (F.col(e_ts) >= F.col(w_start)) & (F.col(e_ts) <= F.col(w_end))
    )
    return joined.drop("__b")
