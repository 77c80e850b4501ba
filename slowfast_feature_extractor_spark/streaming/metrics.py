"""Observability for streaming late-data policy.

The reference silently loses segments that arrive after a task buffer
was force-flushed (reference/just_test_v1.py:858-896). The engine's
policy is drop-WITH-metric, and late drops happen in TWO layers
(measured — both repros in tests/instrumented runs):

1. the engine pre-filters input older than the watermark it holds at
   batch planning time (which lags the data by one micro-batch) and
   counts those in the progress metric
   ``stateOperators[].numRowsDroppedByWatermark`` — exposed by
   :func:`late_drop_count`;
2. rows inside that one-batch lag window — late versus the CURRENT
   watermark but not yet versus the engine's lagged one — still reach
   the ``applyInPandasWithState`` operator; the custom operators drop
   them in-operator via :func:`drop_late` and count them in the
   accumulator from :func:`make_late_counter`. Without this layer a
   lag-window event would merge into a NEWER session (state
   corruption, not just loss).

Total late drops for a query = ``late_drop_count(q) + counter.value``.
The accumulator is a plain Spark accumulator updated inside a stateful
transformation: on task retries / speculative attempts it can
over-count (an operational metric, not an exactly-once ledger); the
engine-maintained progress counter does not have that caveat.
"""

from __future__ import annotations

from typing import Any


def make_late_counter(spark):
    """A Spark accumulator for the in-operator late-drop counts of the
    applyInPandasWithState operators (streaming_sessionize /
    streaming_dual_rate take it as ``late_counter``). Read ``.value`` on
    the driver after (or between) micro-batches. Upper bound under task
    retries (see module docstring)."""
    return spark.sparkContext.accumulator(0)


def drop_late(rows, ts: str, state, late_counter=None):
    """Shared in-operator late-row policy for the stateful operators:
    drop rows behind the operator's current watermark, count them, and
    return the surviving rows (vectorized — no per-row Python)."""
    wm_ms = state.getCurrentWatermarkMs()
    if wm_ms <= 0 or not len(rows):
        return rows
    ts_ms = rows[ts].values.astype("datetime64[ms]").astype("int64")
    late = ts_ms < wm_ms
    n_late = int(late.sum())
    if n_late:
        if late_counter is not None:
            late_counter.add(n_late)
        rows = rows[~late]
    return rows


def _ops(progress: Any) -> list:
    if progress is None:
        return []
    if isinstance(progress, dict):
        return progress.get("stateOperators", []) or []
    return progress["stateOperators"] or []


def late_drop_count(query) -> int:
    """Engine-side late drops (layer 1): total input rows the engine
    pre-filtered as beyond-watermark across the query's recorded
    progress."""
    total = 0
    for p in query.recentProgress:
        for op in _ops(p):
            total += int(op.get("numRowsDroppedByWatermark", 0) or 0)
    return total
