"""Gap-based sessionization and session-level features.

The reference hand-rolls a stateful buffer keyed by task: segments
accumulate per task_key and flush when the group is complete or stale
(reference/just_test_v1.py:600-658,858-872). In a declarative engine the
batch form is the classic lag+cumsum sessionizer:

    new_session = (ts - lag(ts) > gap) OR lag(ts) IS NULL
    session_idx = sum(new_session) OVER (PARTITION BY entity ORDER BY ts)

which is two window functions over ONE partition+sort (no extra shuffle
beyond the entity hash partition). The streaming form with watermark
eviction lives in streaming/sessionize_stream.py with identical
semantics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.functions.timeutil import epoch_us
from slowfast_feature_extractor_spark.operators.skew import carry_window
from slowfast_feature_extractor_spark.operators.windows import _entity_window, _order_cols


def sessionize(
    df: DataFrame,
    entity: str = "url",
    ts: str = "warc_ts",
    gap_seconds: float = 30 * 24 * 3600.0,
    session_col: str = "session_id",
    index_col: str = "session_idx",
    tiebreak: Sequence[str] | str | None = None,
    chunk: Column | None = None,
) -> DataFrame:
    """Assign a session id per entity: a new session starts when the gap
    to the previous event strictly exceeds ``gap_seconds``.

    ``session_idx`` is 1-based per entity; ``session_id`` is the string
    ``{entity}#{idx}`` (the analog of the reference's constructed task
    keys ``patient_{p}_task_{a}_...``, reference/just_test_v1.py:1561).
    Existing index/session columns are replaced (re-sessionizing).

    ``chunk``: optional expression monotone in ``ts`` per entity (e.g.
    ``F.date_trunc("month", F.col("ts"))``) enabling the skew-robust
    plan (operators/skew.py): gap detection runs per (entity, chunk)
    seeded with a ONE-row carry (the entity's last row before the
    chunk), so the first row of every chunk sees its true predecessor;
    the chunk-local session count is then offset by the session starts
    of the entity's earlier chunks — a session spanning a chunk boundary
    contributes no start in the later chunk, so the index carries over
    exactly. Same results as the plain plan.
    """
    gap_us = int(round(gap_seconds * 1_000_000))

    def index(rows: DataFrame, w: WindowSpec, real: Column) -> DataFrame:
        prev = F.lag(F.col(ts)).over(w)
        is_new = F.when(
            real
            & (prev.isNull() | ((epoch_us(F.col(ts)) - epoch_us(prev)) > F.lit(gap_us))),
            F.lit(1),
        ).otherwise(F.lit(0))
        run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return rows.withColumn(index_col, F.sum(is_new).over(run))

    if chunk is None:
        out = index(df, _entity_window(entity, ts, tiebreak), F.lit(True))
    else:
        out = carry_window(
            df, entity, _order_cols(ts, tiebreak), chunk, 1, (), index, index_col,
            chunk_total=F.max(index_col),
        )
    return out.withColumn(
        session_col, F.concat_ws("#", F.col(entity).cast("string"), F.col(index_col))
    )


def session_features(
    sessionized: DataFrame,
    entity: str = "url",
    ts: str = "warc_ts",
    session_col: str = "session_id",
    measure: str | None = "value",
    ordered_concat_cols: Sequence[str] = (),
    min_rows: int | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Aggregate each session: bounds, revisit count, measure stats, and
    an *ordered* concatenation of the requested columns (oldest→newest)
    — the analog of the reference's sort-segment-ids-then-concatenate
    task assembly (reference/just_test_v1.py:636-641).

    Duplicate-``ts`` ordering: pass the SAME ``tiebreak`` column used
    when sessionizing (e.g. ``event_id``) so the concat order matches
    the session-assignment order exactly; without one, equal-ts rows
    order by (ts, concatenated value) — deterministic, but not
    necessarily the assignment order.

    ``min_rows`` drops sessions below the threshold, mirroring the
    reference's ``min_segments_required`` flush gate
    (reference/just_test_v1.py:611-612).
    """
    aggs = [
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.count(F.lit(1)).alias("n_revisits"),
    ]
    if measure is not None:
        aggs += [
            F.sum(measure).alias("measure_sum"),
            F.avg(measure).alias("measure_avg"),
        ]
    for c in ordered_concat_cols:
        # sort_array over structs keyed by (ts[, tiebreak]) gives a
        # deterministic ordered concat without a second window/sort pass
        key_fields = [F.col(ts).alias("__ts")]
        if tiebreak:
            key_fields.append(F.col(tiebreak).alias("__tb"))
        aggs.append(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(*key_fields, F.col(c).alias("__v")))
                ),
                lambda s: s["__v"],
            ).alias(f"{c}_ordered")
        )
    out = sessionized.groupBy(entity, session_col).agg(*aggs)
    if min_rows is not None:
        out = out.filter(F.col("n_revisits") >= min_rows)
    return out
