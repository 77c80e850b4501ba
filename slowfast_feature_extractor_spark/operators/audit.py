"""Leakage audit: prove every feature row used only strictly-earlier
inputs (the north rule's zero-temporal-leakage requirement).

The instrumented window operators already emit ``max_input_ts`` (the
latest contributing timestamp); the audit is then a pure filter —
violations are rows where ``max_input_ts >= ts``. The predicate is
defined once, and its counts (:func:`leakage_counts`) are taken two
ways: as an aggregate over a stored table (:func:`assert_no_leakage`),
and as an ``Observation`` on rows on their way to disk, where they ride
the write's own job. The backfill job (plans/backfill_job.py) audits its
fresh rows the second way and re-audits the buckets it skipped from
disk the first way, so every row in the output is audited once per run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _leaks(ts: str, bound_col: str) -> Column:
    return F.col(bound_col).isNotNull() & (F.col(bound_col) >= F.col(ts))


def leakage_violations(
    features: DataFrame,
    ts: str = "warc_ts",
    bound_col: str = "max_input_ts",
) -> DataFrame:
    """Rows whose contributing-input bound is NOT strictly earlier than
    the row timestamp. Empty result == zero leakage."""
    return features.filter(_leaks(ts, bound_col))


def leakage_counts(ts: str = "warc_ts", bound_col: str = "max_input_ts") -> list[Column]:
    """The audit's two aggregates, ``rows`` and ``violations``: usable in
    ``agg`` over a table or in ``observe`` on a DataFrame being written."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.count_if(_leaks(ts, bound_col)).alias("violations"),
    ]


def check_leakage(rows: int, violations: int, ts: str = "warc_ts",
                  bound_col: str = "max_input_ts") -> int:
    """Raise if any row leaked; return the number of audited rows."""
    if violations:
        raise AssertionError(
            f"temporal leakage: {violations} rows with {bound_col} >= {ts}"
        )
    return int(rows)


def assert_no_leakage(features: DataFrame, ts: str = "warc_ts",
                      bound_col: str = "max_input_ts") -> int:
    """Raise if any row leaks; return the number of audited rows.
    ONE pass over the relation: total and violation counts come from a
    single aggregate (two separate .count() calls would scan and decode
    the full feature output twice per backfill run)."""
    rows, violations = features.agg(*leakage_counts(ts, bound_col)).first()
    return check_leakage(rows, violations, ts, bound_col)
