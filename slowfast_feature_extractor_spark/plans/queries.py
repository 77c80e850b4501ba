"""Query registry: every operator from SURVEY.md §2 as a (Spark
callable, DuckDB oracle SQL) pair over the driver's parquet tables.

Each Spark query is declarative DataFrame/SQL (Catalyst plans it); each
oracle is ANSI-ish SQL DuckDB runs on the same parquet. Both sides are
written for *bit-reproducibility*: integer (cents) arithmetic for sums,
md5-hex hashes (identical in both engines), ROUND(_, 6) on anything that
crosses a double, and deterministic tie-breaks on every rank/ordering.

Keys map to the SURVEY §2 inventory in the comments.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.functions import textstats as TS
from slowfast_feature_extractor_spark.functions import urltools as UT
from slowfast_feature_extractor_spark.functions.extraction import extract_text_udf
from slowfast_feature_extractor_spark.functions.keys import (
    label_remap,
    rater_agreement,
    rater_status,
)
from slowfast_feature_extractor_spark.functions.timeutil import epoch_us
from slowfast_feature_extractor_spark.operators import dedup as DD
from slowfast_feature_extractor_spark.operators import maintenance as MT
from slowfast_feature_extractor_spark.operators import multimodal as MM
from slowfast_feature_extractor_spark.operators import similarity as SIM
from slowfast_feature_extractor_spark.operators.asof_join import asof_join
from slowfast_feature_extractor_spark.operators.sessionize import (
    session_features,
    sessionize,
)
from slowfast_feature_extractor_spark.operators.windows import (
    backfill,
    dual_rate_features,
    lag_lead,
)
from slowfast_feature_extractor_spark.plans.featurize import (
    featurize_pages,
    pit_dual_rate_events,
    pit_dual_rate_from,
)
from slowfast_feature_extractor_spark.session import _scratch
from slowfast_feature_extractor_spark.sources import warc as W
from slowfast_feature_extractor_spark.sources.tables import parallelize_scan

QueryFn = Callable[[SparkSession, str], DataFrame]


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "value_cents", F.round(F.col("value") * 100).cast("long")
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file fixture scans cannot split; see parallelize_scan
    return parallelize_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parallelize_scan(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _synth_media(
    spark: SparkSession, sf_dir: str, col: str, make: Callable[[int, int], bytes]
) -> DataFrame:
    """``documents`` as media fixtures: ``(doc_id, col)`` with ``col`` =
    ``make(doc_id, tlen)``, tlen the text length. The media rows'
    fixture encoders are per-row Python by design (they GENERATE the
    blobs; the decode under test is the operator), so ``make`` runs in
    a scalar pandas UDF — ArrowEvalPython, one Arrow batch per call. A
    ``make`` that raises fails the query: a broken fixture is a bug,
    not undecodable media."""

    @F.pandas_udf("binary")
    def _make(doc_id, tlen):  # type: ignore[no-untyped-def]
        import pandas as pd

        blobs = [make(int(i), int(t)) for i, t in zip(doc_id, tlen)]
        return pd.Series(blobs, dtype=object)

    return _docs(spark, sf_dir).select(
        "doc_id", _make("doc_id", F.length("text").cast("long")).alias(col)
    )


_EV_CENTS_SQL = "SELECT *, CAST(round(value*100) AS BIGINT) AS value_cents FROM events"


# ---------------------------------------------------------------- temporal

def q_pit_dual_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (W2+W3+J4+W8): dual-rate PIT features at each click."""
    return pit_dual_rate_events(spark, sf_dir)


def q_pit_dual_rate_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events flagship behind the zero-job skew chooser (VERDICT r5
    #2): plain plan on uniform corpora, every entity-sequential stage
    chunked only when the hot-entity sketch crosses the threshold. Same
    oracle as pit_dual_rate — both arms are value-exact."""
    return pit_dual_rate_from(_ev(spark, sf_dir), chunk_trunc="auto")


def q_pit_dual_rate_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events flagship with EVERY entity-sequential stage on the
    skew path — chunked sessionize + chunked dual-rate windows + chunked
    as-of carry (``pit_dual_rate_from(chunk_trunc="month")``). Same
    oracle as pit_dual_rate: the composition is value-exact."""
    return pit_dual_rate_from(_ev(spark, sf_dir), chunk_trunc="month")


def _gap_sessions(split: str) -> str:
    """``WITH ev, lagged, s``: ``s`` is the events (``ev``, with
    ``value_cents``) plus ``session_idx``, the 1-based 30-minute-gap
    session index per user in (ts, event_id) order. A row opens a
    session when its gap to the previous row is ``split`` 30 min:
    ``>`` is ``sessionize``'s strict split, ``>=`` the [ts, ts+gap)
    bound of Spark's native session windows."""
    return f"""WITH ev AS ({_EV_CENTS_SQL}),
lagged AS (
  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM ev
),
s AS (
  SELECT *, CAST(SUM(CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) {split} 1800000000
                     THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM lagged
)"""


ORACLE_PIT_DUAL_RATE = f"""
{_gap_sessions('>')},
feats AS (
  SELECT *,
    round(avg(value_cents) OVER w_fast, 6) AS fast_avg,
    count(value_cents) OVER w_fast AS fast_cnt,
    round(avg(value_cents) OVER w_slow, 6) AS slow_avg,
    count(value_cents) OVER w_slow AS slow_cnt
  FROM s
  WINDOW w_fast AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING),
         w_slow AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 64 PRECEDING AND 1 PRECEDING)
),
view_feats AS (
  SELECT user_id, ts,
    avg(value_cents) OVER vw AS slow_view_avg,
    count(value_cents) OVER vw AS slow_view_cnt
  FROM ev WHERE event_type = 'view'
  WINDOW vw AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 64 PRECEDING AND 1 PRECEDING)
),
clicks AS (
  SELECT user_id, ts, event_id, session_idx, fast_avg, fast_cnt, slow_avg, slow_cnt
  FROM feats WHERE event_type = 'click'
)
SELECT c.user_id, c.ts, c.event_id, c.session_idx, c.fast_avg, c.fast_cnt,
       c.slow_avg, c.slow_cnt, v.ts AS view_ts,
       round(v.slow_view_avg, 6) AS slow_view_avg, v.slow_view_cnt
FROM clicks c ASOF LEFT JOIN view_feats v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""


def _q_featurize_pages(spark: SparkSession, sf_dir: str, chunked: bool) -> DataFrame:
    """THE flagship pipeline itself (W2+W3+W5+W6+A2+J4), driver-checkable:
    events reshaped to the pages schema, run through
    :func:`featurize_pages` (extraction UDF → dual-rate trailing windows →
    np.interp resample → anchor carry-forward as-of fusion → slow‖fast
    concat, reference/test_net.py:62-74 + models/head_helper.py:19 +
    datasets/videoset.py:194-196), fused vector exploded to
    (url, warc_ts, idx, value) so DuckDB can hash it.

    ``chunked`` engages the hot-url skew path (``chunk_trunc="month"`` →
    range-partition-with-carry, operators/skew.py): a million-revisit url
    parallelizes across its time chunks instead of serializing one task.
    The plain row keeps ``chunk_trunc="auto"``. Both rows share one
    oracle — the chunked plan is value-exact."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pages = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.col("event_id").alias("snapshot_id"),
        F.lit(None).cast("binary").alias("html"),
        F.concat(
            F.col("event_type"), F.lit(":"), F.coalesce(F.col("props"), F.lit(""))
        ).alias("text"),
        F.lit("en").alias("lang"),
    )
    out = featurize_pages(pages, fast_rows=8, slow_rows=16, fast_len=8, slow_len=4,
                          tiebreak="snapshot_id",
                          chunk_trunc="month" if chunked else "auto")
    return out.select(
        "url", "warc_ts", F.posexplode("fused_vec").alias("idx", "value")
    ).withColumn("value", F.round("value", 6))


q_featurize_pages = functools.partial(_q_featurize_pages, chunked=False)
q_featurize_pages_chunked = functools.partial(_q_featurize_pages, chunked=True)


def _resample_sql(ys: str, k: int) -> str:
    """DuckDB expression bit-identical to functions.vector.resample_to_k_np
    (np.interp with linspace endpoints): same linspace step arithmetic
    (x_j = j * (1/(n-1)), endpoint assigned exactly 1.0), same
    searchsorted-then-`slope*(x-xs[j])+y[j]` operation order, same
    empty→zeros / singleton→repeat edge cases. Verified exact over
    random lists in tests (no tolerance)."""
    stepn = f"(1.0 / CAST(len({ys}) - 1 AS DOUBLE))"
    stepk = f"(1.0 / CAST({k - 1} AS DOUBLE))"
    x = f"(CASE WHEN i = {k - 1} THEN 1.0 ELSE CAST(i AS DOUBLE) * {stepk} END)"

    def xs_of(j: str) -> str:
        return (
            f"(CASE WHEN {j} = len({ys}) - 1 THEN 1.0"
            f" ELSE CAST({j} AS DOUBLE) * {stepn} END)"
        )

    j = f"(len(list_filter(range(0, len({ys})), jj -> {xs_of('jj')} <= {x})) - 1)"
    return f"""
    CASE WHEN {ys} IS NULL THEN NULL
         WHEN len({ys}) = 0 THEN list_transform(range(0, {k}), i -> 0.0)
         WHEN len({ys}) = 1 THEN list_transform(range(0, {k}), i -> CAST({ys}[1] AS DOUBLE))
         ELSE list_transform(range(0, {k}), i ->
            CASE WHEN {j} >= len({ys}) - 1 THEN CAST({ys}[len({ys})] AS DOUBLE)
                 ELSE ((CAST({ys}[{j} + 2] AS DOUBLE) - CAST({ys}[{j} + 1] AS DOUBLE))
                        / ({xs_of(f'({j} + 1)')} - CAST({j} AS DOUBLE) * {stepn}))
                      * ({x} - CAST({j} AS DOUBLE) * {stepn})
                      + CAST({ys}[{j} + 1] AS DOUBLE)
            END)
    END"""


ORACLE_FEATURIZE_PAGES = f"""
WITH pages AS (
  SELECT concat('u', CAST(user_id AS VARCHAR)) AS url, ts AS warc_ts,
         event_id AS snapshot_id,
         CAST(length(concat(event_type, ':', COALESCE(props, ''))) AS DOUBLE) AS measure
  FROM events
),
w AS (
  SELECT url, warc_ts, snapshot_id,
         COALESCE(list(measure) OVER fast, CAST([] AS DOUBLE[])) AS fast_raw,
         CASE WHEN lag(CAST(warc_ts AS DATE)) OVER o IS NULL
                OR lag(CAST(warc_ts AS DATE)) OVER o <> CAST(warc_ts AS DATE)
              THEN COALESCE(list(measure) OVER slow, CAST([] AS DOUBLE[])) END AS slow_at_anchor
  FROM pages
  WINDOW o AS (PARTITION BY url ORDER BY warc_ts, snapshot_id),
         fast AS (PARTITION BY url ORDER BY warc_ts, snapshot_id ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING),
         slow AS (PARTITION BY url ORDER BY warc_ts, snapshot_id ROWS BETWEEN 16 PRECEDING AND 1 PRECEDING)
),
c AS (
  SELECT url, warc_ts, fast_raw,
         last_value(slow_at_anchor IGNORE NULLS)
           OVER (PARTITION BY url ORDER BY warc_ts, snapshot_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS slow_raw
  FROM w
),
v AS (
  SELECT url, warc_ts,
         {_resample_sql('fast_raw', 8)} AS fast_vec,
         COALESCE({_resample_sql('slow_raw', 4)},
                  [0.0, 0.0, 0.0, 0.0]) AS slow_vec
  FROM c
),
f AS (SELECT url, warc_ts, list_concat(slow_vec, fast_vec) AS fused FROM v)
SELECT url, warc_ts, CAST(r.idx AS INT) AS idx,
       round(fused[CAST(r.idx AS INT) + 1], 6) AS value
FROM f, range(0, 12) AS r(idx)
"""


def _q_window_dual_rate(spark: SparkSession, sf_dir: str, chunked: bool) -> DataFrame:
    """W2/W3: strict trailing fast+slow window aggregates on every row,
    plus the leakage-audit columns.

    ``chunked`` takes the skew path: range-partition-with-carry
    (operators/skew.py) — hot entities split across time chunks, bounded
    tails carried — checked against the SAME oracle (results are exactly
    equal by construction). Month chunks: the fixture is SPARSE (~2
    rows/user/day), so day chunks would emit a 64-row carry per ~2-row
    chunk (the operator targets dense hot entities where rows-per-chunk
    >> slow_rows)."""
    out = dual_rate_features(
        _ev(spark, sf_dir), entity="user_id", ts="ts", measure="value_cents",
        fast_rows=8, slow_rows=64, strict=True, round_to=6, tiebreak="event_id",
        chunk=F.to_date(F.date_trunc("month", F.col("ts"))) if chunked else None,
    )
    return out.select(
        "user_id", "ts", "event_id",
        "fast_avg", "fast_sum", "fast_min", "fast_max", "fast_cnt",
        "slow_avg", "slow_sum", "slow_min", "slow_max", "slow_cnt",
        "n_hist_rows", "max_input_ts",
    )


q_window_dual_rate = functools.partial(_q_window_dual_rate, chunked=False)
q_window_dual_rate_chunked = functools.partial(_q_window_dual_rate, chunked=True)


ORACLE_WINDOW_DUAL_RATE = f"""
WITH ev AS ({_EV_CENTS_SQL})
SELECT user_id, ts, event_id,
  round(avg(value_cents) OVER w_fast, 6) AS fast_avg,
  round(sum(value_cents) OVER w_fast, 6) AS fast_sum,
  min(value_cents) OVER w_fast AS fast_min,
  max(value_cents) OVER w_fast AS fast_max,
  count(value_cents) OVER w_fast AS fast_cnt,
  round(avg(value_cents) OVER w_slow, 6) AS slow_avg,
  round(sum(value_cents) OVER w_slow, 6) AS slow_sum,
  min(value_cents) OVER w_slow AS slow_min,
  max(value_cents) OVER w_slow AS slow_max,
  count(value_cents) OVER w_slow AS slow_cnt,
  count(*) OVER w_hist AS n_hist_rows,
  max(ts) OVER w_hist AS max_input_ts
FROM ev
WINDOW
  w_fast AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING),
  w_slow AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 64 PRECEDING AND 1 PRECEDING),
  w_hist AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


def _asof_clicks_views(
    spark, sf_dir, allow_exact: bool, tolerance_seconds: float | None = None
) -> DataFrame:
    ev = _ev(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value_cents").alias("view_cents")
    )
    return asof_join(
        clicks, views, on="ts", by=("user_id",), right_cols=["view_cents"],
        allow_exact_matches=allow_exact, tolerance_seconds=tolerance_seconds,
        matched_ts_col="view_ts",
    ).select("user_id", "ts", "event_id", "view_ts", "view_cents")


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: each click gets the latest view with view.ts <= click.ts."""
    return _asof_clicks_views(spark, sf_dir, allow_exact=True)


def q_asof_join_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 zero-leakage variant: strictly earlier (view.ts < click.ts)."""
    return _asof_clicks_views(spark, sf_dir, allow_exact=False)


def _oracle_asof(op: str) -> str:
    return f"""
WITH ev AS ({_EV_CENTS_SQL}),
clicks AS (SELECT user_id, ts, event_id FROM ev WHERE event_type = 'click'),
views  AS (SELECT user_id, ts, value_cents AS view_cents FROM ev WHERE event_type = 'view')
SELECT c.user_id, c.ts, c.event_id, v.ts AS view_ts, v.view_cents
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts {op} v.ts
"""


def q_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 tolerance knob (pandas.merge_asof parity): matches older than
    1 hour are nulled — the reference's stale-buffer eviction expressed
    as a join semantic."""
    return _asof_clicks_views(spark, sf_dir, allow_exact=True, tolerance_seconds=3600.0)


ORACLE_ASOF_TOLERANCE = f"""
WITH ev AS ({_EV_CENTS_SQL}),
clicks AS (SELECT user_id, ts, event_id FROM ev WHERE event_type = 'click'),
views  AS (SELECT user_id, ts, value_cents AS view_cents FROM ev WHERE event_type = 'view'),
m AS (
  SELECT c.user_id, c.ts, c.event_id, v.ts AS view_ts, v.view_cents
  FROM clicks c ASOF LEFT JOIN views v
    ON c.user_id = v.user_id AND c.ts >= v.ts
)
SELECT user_id, ts, event_id,
       CASE WHEN epoch(ts) - epoch(view_ts) <= 3600.0 THEN view_ts END AS view_ts,
       CASE WHEN epoch(ts) - epoch(view_ts) <= 3600.0 THEN view_cents END AS view_cents
FROM m
"""


def _q_sessionize(spark: SparkSession, sf_dir: str, chunked: bool) -> DataFrame:
    """W8: gap-based sessionization (30-min revisit gap). ``chunked``
    takes the hot-entity skew path: gap sessionization per (user,
    month-chunk) with a one-row carry + per-chunk session-start prefix
    (``sessionize(chunk=)``) — value-exact vs the plain sessionizer,
    same oracle."""
    out = sessionize(
        _ev(spark, sf_dir), entity="user_id", ts="ts", gap_seconds=1800.0,
        tiebreak="event_id",
        chunk=F.date_trunc("month", F.col("ts")) if chunked else None,
    )
    return out.select("user_id", "ts", "event_id", "session_idx", "session_id")


q_sessionize = functools.partial(_q_sessionize, chunked=False)
q_sessionize_chunked = functools.partial(_q_sessionize, chunked=True)


ORACLE_SESSIONIZE = f"""
{_gap_sessions('>')}
SELECT user_id, ts, event_id, session_idx,
       concat(CAST(user_id AS VARCHAR), '#', CAST(session_idx AS VARCHAR)) AS session_id
FROM s
"""


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8+A9: per-session aggregates with the ordered event-type concat
    (the reference's sorted segment assembly)."""
    ev = sessionize(_ev(spark, sf_dir), entity="user_id", ts="ts",
                    gap_seconds=1800.0, tiebreak="event_id")
    out = session_features(
        ev, entity="user_id", ts="ts", measure="value_cents",
        ordered_concat_cols=("event_type",),
    )
    return out.select(
        "user_id", "session_id", "session_start", "session_end", "n_revisits",
        F.col("measure_sum").alias("sum_cents"),
        F.round("measure_avg", 6).alias("avg_cents"),
        F.array_join("event_type_ordered", ",").alias("type_seq"),
    )


ORACLE_SESSION_STATS = f"""
{_gap_sessions('>')}
SELECT user_id,
       concat(CAST(user_id AS VARCHAR), '#', CAST(session_idx AS VARCHAR)) AS session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_revisits,
       CAST(sum(value_cents) AS BIGINT) AS sum_cents,
       round(avg(value_cents), 6) AS avg_cents,
       string_agg(event_type, ',' ORDER BY ts, event_type) AS type_seq
FROM s GROUP BY user_id, session_idx
"""


def q_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 backfill: null out 'error' values, forward-fill per user."""
    ev = _ev(spark, sf_dir).withColumn(
        "v", F.when(F.col("event_type") != "error", F.col("value_cents"))
    )
    out = backfill(ev, entity="user_id", ts="ts", cols=("v",), tiebreak="event_id")
    return out.select("user_id", "ts", "event_id", "v", F.col("v_filled"))


ORACLE_BACKFILL = f"""
WITH ev AS ({_EV_CENTS_SQL})
SELECT user_id, ts, event_id,
       CASE WHEN event_type <> 'error' THEN value_cents END AS v,
       last_value(CASE WHEN event_type <> 'error' THEN value_cents END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
FROM ev
"""


def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 lag/lead with boundary nulls + inter-event gap in micros."""
    ev = _ev(spark, sf_dir)
    out = lag_lead(ev, entity="user_id", ts="ts", cols=("value_cents",),
                   offsets=(1, 2), tiebreak="event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    out = out.withColumn(
        "gap_us", epoch_us(F.col("ts")) - epoch_us(F.lag("ts", 1).over(w))
    )
    return out.select(
        "user_id", "ts", "event_id",
        "lag_value_cents_1", "lead_value_cents_1",
        "lag_value_cents_2", "lead_value_cents_2", "gap_us",
    )


ORACLE_LAG_LEAD = f"""
WITH ev AS ({_EV_CENTS_SQL})
SELECT user_id, ts, event_id,
  lag(value_cents, 1)  OVER w AS lag_value_cents_1,
  lead(value_cents, 1) OVER w AS lead_value_cents_1,
  lag(value_cents, 2)  OVER w AS lag_value_cents_2,
  lead(value_cents, 2) OVER w AS lead_value_cents_2,
  epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us
FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# -------------------------------------------------------------- relational

def q_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+P1/P2: filtered, projected scan — predicate/column pushdown
    reaches the parquet reader (see .explain PushedFilters)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter((F.col("l_shipdate") < "1996-01-01") & (F.col("l_quantity") > 45))
        .select(
            "l_orderkey", "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            "l_returnflag",
        )
    )


ORACLE_PUSHDOWN_SCAN = """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS revenue, l_returnflag
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00' AND l_quantity > 45
"""


def q_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/S5: fact ⨝ broadcast dims (customer→nation→region), grouped."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumn(
        "acct_cents", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("acct_cents").alias("acct_cents_sum"),
        )
    )


ORACLE_BROADCAST_DIM_JOIN = """
SELECT r_name, n_name, count(*) AS n_customers,
       CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS acct_cents_sum
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_part_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2 over the remaining dimension tables (part, supplier): fact
    ⨝ three broadcast dims → grouped exact-cents revenue rollup
    (TPC-H-Q9-shaped). Dims broadcast explicitly — the plan a 100-TB
    lineitem needs (no shuffle of the fact side). The fact scan is
    parallelize_scan(barrier=False)-wrapped (r7): the fixture file scans
    as ~6 row-group splits, so the three BHJ probes + the partial agg
    ran on 6 of 32 cores; the barrierless repartition spreads them while
    leaving predicate pushdown at the scan."""
    li = parallelize_scan(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        barrier=False,
        min_bytes=64 << 20,
    )
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("l_shipdate").alias("yr"), "p_brand")
        .agg(
            F.sum(rev_c).alias("rev_c"),
            F.count(F.lit(1)).alias("n"),
        )
    )


ORACLE_PART_SUPPLIER_REVENUE = """
SELECT n_name, CAST(year(l_shipdate) AS INT) AS yr, p_brand,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_c,
       count(*) AS n
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name, yr, p_brand
"""


def q_host_meta_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+P4+P6/J1: parse the host out of a url (regex key-parse),
    broadcast-join the small host dimension, keep one crawl tier — the
    camera_assignments.csv lookup + ipsilateral-camera predicate
    (reference/just_test_v1.py:1514-1517,1543-1549)."""
    from slowfast_feature_extractor_spark.operators.regions import join_host_meta

    ev = _ev(spark, sf_dir)
    pages = ev.select(
        "event_id",
        F.format_string(
            "https://h%d.example.com/p/%d", F.col("user_id") % 7, F.col("event_id")
        ).alias("url"),
    )
    host_meta = spark.range(7).select(
        F.format_string("h%d.example.com", F.col("id")).alias("host"),
        (F.col("id") % 3).cast("int").alias("crawl_tier"),
    )
    out = join_host_meta(pages, host_meta, keep_tier=1)
    return out.select("event_id", "host", "crawl_tier")


ORACLE_HOST_META_FILTER = """
WITH p AS (
  SELECT event_id,
         concat('h', CAST(user_id % 7 AS VARCHAR), '.example.com') AS host
  FROM events
),
d AS (SELECT concat('h', CAST(r.i AS VARCHAR), '.example.com') AS host,
             CAST(r.i % 3 AS INT) AS crawl_tier
      FROM range(0, 7) AS r(i))
SELECT p.event_id, p.host, d.crawl_tier
FROM p JOIN d USING (host) WHERE d.crawl_tier = 1
"""


def q_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+P8: two-rater agreement predicate then label remap."""
    ev = _ev(spark, sf_dir)
    t1 = F.when(F.col("event_type") != "error", F.col("event_id") % 3)
    t2 = F.when(F.col("event_type") != "view", F.floor(F.col("event_id") / 7) % 3)
    out = ev.select(
        "event_id",
        t1.alias("t1"),
        t2.alias("t2"),
        rater_agreement(t1, t2).alias("rating"),
        rater_status(t1, t2).alias("status"),
    )
    return out.withColumn(
        "label", label_remap(F.col("rating"), {0: 10, 1: 20, 2: 30})
    )


ORACLE_RATER_AGREEMENT = """
WITH r AS (
  SELECT event_id,
    CASE WHEN event_type <> 'error' THEN event_id % 3 END AS t1,
    CASE WHEN event_type <> 'view' THEN CAST(floor(event_id / 7) AS BIGINT) % 3 END AS t2
  FROM events
),
agreed AS (
  SELECT event_id, t1, t2,
    CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t1 = t2 THEN t1
         WHEN t1 IS NOT NULL AND t2 IS NULL THEN t1
         WHEN t1 IS NULL AND t2 IS NOT NULL THEN t2
    END AS rating,
    CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t1 = t2 THEN 'match'
         WHEN t1 IS NOT NULL AND t2 IS NOT NULL THEN 'no_match'
         WHEN t1 IS NOT NULL OR t2 IS NOT NULL THEN 'single'
         ELSE 'missing'
    END AS status
  FROM r
)
SELECT event_id, t1, t2, rating, status,
  CASE rating WHEN 0 THEN 10 WHEN 1 THEN 20 WHEN 2 THEN 30 END AS label
FROM agreed
"""


def q_key_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/P7/F4/F5: regex parse of the props payload + key construction."""
    ev = _ev(spark, sf_dir)
    return ev.select(
        "event_id",
        F.regexp_extract("props", "[0-9]+", 0).cast("int").alias("k"),
        F.format_string("user_%d_type_%s", F.col("user_id"), F.col("event_type")).alias(
            "entity_key"
        ),
    )


ORACLE_KEY_PARSE = """
SELECT event_id,
       CAST(regexp_extract(props, '[0-9]+') AS INT) AS k,
       concat('user_', CAST(user_id AS VARCHAR), '_type_', event_type) AS entity_key
FROM events
"""


def q_group_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4: class counts + inverse-frequency class weights."""
    ev = _ev(spark, sf_dir)
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy()
    return counts.select(
        "event_type", "n",
        F.round(F.sum("n").over(total) / (F.lit(5) * F.col("n")), 6).alias("class_weight"),
    )


ORACLE_GROUP_WEIGHTS = """
WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type)
SELECT event_type, n, round(sum(n) OVER () / (5 * n), 6) AS class_weight FROM c
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: two-level accuracy-style rollup (event_type × user bucket)."""
    ev = _ev(spark, sf_dir).withColumn("user_bucket", F.col("user_id") % 10)
    return ev.rollup("event_type", "user_bucket").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value_cents").alias("sum_cents")
    )


ORACLE_GROUPING_SETS = f"""
WITH ev AS ({_EV_CENTS_SQL})
SELECT event_type, user_id % 10 AS user_bucket, count(*) AS n,
       CAST(sum(value_cents) AS BIGINT) AS sum_cents
FROM ev GROUP BY ROLLUP (event_type, user_bucket)
"""


def q_accuracy_per_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6: per-class accuracy of a deterministic pseudo-classifier."""
    ev = _ev(spark, sf_dir).select(
        (F.col("user_id") % 3).alias("true_class"),
        ((F.col("event_id") % 3) == (F.col("user_id") % 3)).cast("int").alias("correct"),
    )
    return ev.groupBy("true_class").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("correct"), 6).alias("accuracy")
    )


ORACLE_ACCURACY_PER_CLASS = """
SELECT user_id % 3 AS true_class, count(*) AS n,
       round(avg(CASE WHEN event_id % 3 = user_id % 3 THEN 1 ELSE 0 END), 6) AS accuracy
FROM events GROUP BY user_id % 3
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3/O5: top-3 orders per customer by totalprice (deterministic
    tie-break on orderkey)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank", "o_totalprice")
    )


ORACLE_TOPK_PER_GROUP = """
SELECT o_custkey, o_orderkey, rank, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q_margin_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3/A8: per-user event-type distribution → entropy + top-2
    margin of the empirical probabilities."""
    ev = _ev(spark, sf_dir)
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w_user = Window.partitionBy("user_id")
    w_rank = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("event_type").asc()
    )
    c = (
        counts.withColumn("total", F.sum("cnt").over(w_user))
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("p", F.col("cnt").cast("double") / F.col("total"))
    )
    return c.groupBy("user_id").agg(
        F.round(-F.sum(F.col("p") * F.log(F.col("p"))), 6).alias("entropy"),
        F.round(
            (F.max(F.when(F.col("rn") == 1, F.col("p"))).cast("double")
             - F.coalesce(F.max(F.when(F.col("rn") == 2, F.col("p"))), F.lit(0.0))),
            6,
        ).alias("margin"),
    )


ORACLE_MARGIN_ENTROPY = """
WITH counts AS (
  SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY user_id, event_type
),
c AS (
  SELECT *, sum(cnt) OVER (PARTITION BY user_id) AS total,
         row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type ASC) AS rn,
         CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY user_id) AS p
  FROM counts
)
SELECT user_id,
  round(-sum(p * ln(p)), 6) AS entropy,
  round(max(CASE WHEN rn = 1 THEN p END)
        - coalesce(max(CASE WHEN rn = 2 THEN p END), 0.0), 6) AS margin
FROM c GROUP BY user_id
"""


def q_union_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: union + intersect (the patient-overlap check analog,
    reference/just_test_v1.py:1669-1671)."""
    ev = _ev(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    errors = ev.filter(F.col("event_type") == "error").select("user_id")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    return clicks.unionByName(errors).distinct().intersect(views.distinct())


ORACLE_UNION_SET_OPS = """
SELECT DISTINCT user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  UNION SELECT user_id FROM events WHERE event_type = 'error'
)
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
"""


def q_except_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 set-subtract: purchasing users never seen erroring — EXCEPT
    (the complement of the overlap sanity check)."""
    # day as an ISO string: a DATE output column reaches pandas as
    # datetime.date objects from Spark but datetime64 from DuckDB,
    # which breaks the dtype-sensitive value hash
    ev = _ev(spark, sf_dir).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "day")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "day")
    return purchases.distinct().exceptAll(errors.distinct())


ORACLE_EXCEPT_OPS = """
SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
FROM events WHERE event_type = 'error'
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per event type (linear interpolation between
    closest ranks — Spark `percentile` == SQL quantile_cont), the
    distributional summary every corpus-quality report needs."""
    ev = _ev(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value_cents, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value_cents, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value_cents, 0.75)"), 6).alias("p75"),
        F.round(F.expr("percentile(value_cents, 0.99)"), 6).alias("p99"),
    )


ORACLE_VALUE_PERCENTILES = f"""
WITH ev AS ({_EV_CENTS_SQL})
SELECT event_type,
       round(quantile_cont(value_cents, 0.25), 6) AS p25,
       round(quantile_cont(value_cents, 0.5), 6) AS p50,
       round(quantile_cont(value_cents, 0.75), 6) AS p75,
       round(quantile_cont(value_cents, 0.99), 6) AS p99
FROM ev GROUP BY event_type
"""


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram-quantile sketch WITH its exact twin in one
    row (the `distinct_sketch` pattern: the driver hash pins both the
    sketch's answer and its error against ground truth). The sketch is
    a fixed-width (100-cent) bucket histogram — state is O(range/width)
    integers per group, map-side combinable, mergeable across any
    partitioning — vs the exact path's full per-group sort. approx_p =
    upper bound of the first bucket whose cumulative count reaches
    rank ceil(p·n/100); exact_p = the value AT that rank (discrete
    quantile, unique (value, event_id) sort). ALL comparisons are
    integer cross-multiplications (100·cum ≥ p·n), so no float
    boundary exists anywhere. At 10^12 rows the histogram is the only
    affordable plan — exact quantiles cost a full sort per group — and
    this row measures exactly what that buys and costs."""
    ev = _ev(spark, sf_dir)
    W = 100
    hist = ev.groupBy(
        "event_type", F.floor(F.col("value_cents") / W).alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    h = hist.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "n", F.sum("cnt").over(wall)
    )
    approx = h.groupBy("event_type").agg(
        F.max("n").alias("n"),
        *[
            F.min(
                F.when(
                    F.col("cum") * 100 >= F.lit(p) * F.col("n"),
                    (F.col("b") + 1) * W,
                )
            ).alias(f"approx_p{p}")
            for p in (50, 95, 99)
        ],
    )
    wrank = Window.partitionBy("event_type").orderBy("value_cents", "event_id")
    r = ev.select(
        "event_type", "value_cents", "event_id",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    exact = r.groupBy("event_type").agg(
        *[
            F.min(
                F.when(
                    F.col("rn")
                    == F.floor((F.lit(p) * F.col("n") + 99) / F.lit(100)),
                    F.col("value_cents"),
                )
            ).alias(f"exact_p{p}")
            for p in (50, 95, 99)
        ]
    )
    return approx.join(exact, "event_type").select(
        "event_type", "n",
        "approx_p50", "exact_p50",
        "approx_p95", "exact_p95",
        "approx_p99", "exact_p99",
    )


ORACLE_QUANTILE_SKETCH = f"""
WITH ev AS ({_EV_CENTS_SQL}),
hist AS (
  SELECT event_type, value_cents // 100 AS b, count(*) AS cnt
  FROM ev GROUP BY event_type, b
),
h AS (
  SELECT event_type, b, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM hist
),
approx AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         min(CASE WHEN cum * 100 >= 50 * n THEN (b + 1) * 100 END) AS approx_p50,
         min(CASE WHEN cum * 100 >= 95 * n THEN (b + 1) * 100 END) AS approx_p95,
         min(CASE WHEN cum * 100 >= 99 * n THEN (b + 1) * 100 END) AS approx_p99
  FROM h GROUP BY event_type
),
r AS (
  SELECT event_type, value_cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value_cents, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev
),
exact AS (
  SELECT event_type,
         min(CASE WHEN rn = (50 * n + 99) // 100 THEN value_cents END) AS exact_p50,
         min(CASE WHEN rn = (95 * n + 99) // 100 THEN value_cents END) AS exact_p95,
         min(CASE WHEN rn = (99 * n + 99) // 100 THEN value_cents END) AS exact_p99
  FROM r GROUP BY event_type
)
SELECT approx.event_type, n, approx_p50, exact_p50,
       approx_p95, exact_p95, approx_p99, exact_p99
FROM approx JOIN exact ON approx.event_type = exact.event_type
"""


# ------------------------------------------------------- documents / text

_HTML_PREFIX = (
    "<html><head><title></title><style>p{color:red}</style>"
    "<script>var x=1;</script></head><body><!-- c --><p>"
)
_HTML_SUFFIX = "</p></body></html>"


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/F10 analog: wrap each document in an HTML template (binary),
    run the Arrow extraction UDF, recover the text byte-identically."""
    d = _docs(spark, sf_dir)
    html = F.encode(
        F.concat(F.lit(_HTML_PREFIX), F.col("text"), F.lit(_HTML_SUFFIX)), "utf-8"
    )
    return d.select("doc_id", extract_text_udf(html).alias("extracted"))


ORACLE_EXTRACT_TEXT = """
SELECT doc_id, trim(regexp_replace(text, ' +', ' ', 'g')) AS extracted FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts (whitespace + BPE-ish regex), shape
    stats, stopword ratio, composite quality score."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    n = TS.token_count(t)
    return d.select(
        "doc_id",
        n.alias("tok_cnt"),
        TS.bpe_ish_token_count(t).alias("bpe_cnt"),
        F.round(TS.avg_token_len(t), 6).alias("avg_tok_len"),
        F.round(
            F.when(n > 0, TS.stopword_count(t).cast("double") / n).otherwise(0.0), 6
        ).alias("stop_ratio"),
        TS.quality_score(t).alias("quality"),
    )


_STOPS_SQL = "['" + "','".join(TS.STOPWORDS_EN) + "']"

ORACLE_TEXT_QUALITY = f"""
WITH b AS (
  SELECT doc_id, text,
    len(list_filter(string_split(text, ' '), x -> x <> '')) AS tok_cnt,
    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe_cnt,
    len(list_filter(string_split(text, ' '),
        x -> list_contains({_STOPS_SQL}, x))) AS stop_cnt,
    length(replace(text, ' ', '')) AS chars
  FROM documents
),
m AS (
  SELECT doc_id, tok_cnt, bpe_cnt,
    CASE WHEN tok_cnt > 0 THEN CAST(chars AS DOUBLE) / tok_cnt ELSE 0.0 END AS awl,
    CASE WHEN tok_cnt > 0 THEN CAST(stop_cnt AS DOUBLE) / tok_cnt ELSE 0.0 END AS sr
  FROM b
)
SELECT doc_id, tok_cnt, bpe_cnt,
  round(awl, 6) AS avg_tok_len,
  round(sr, 6) AS stop_ratio,
  round(least(tok_cnt / 200.0, 1.0) * 0.4 + sr * 0.3 + least(awl / 8.0, 1.0) * 0.3, 6)
    AS quality
FROM m
"""


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-word votes, deterministic argmax."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", "lang", TS.langid(F.col("text")).alias("lang_pred"))


def _langid_sql() -> tuple[str, str]:
    """TS.langid as SQL: the per-language marker-word vote columns
    ``s_<lang>`` over ``text``, and the argmax CASE over them."""
    langs = sorted(TS.LANG_MARKERS)

    def votes(lang: str) -> str:
        marks = "['" + "','".join(TS.LANG_MARKERS[lang]) + "']"
        return (
            "len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''), "
            f"x -> list_contains({marks}, x))) AS s_{lang}"
        )

    scores = ", ".join(map(votes, langs))
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = "CASE WHEN " + best + " <= 0 THEN 'und' "
    for lang in langs:
        case += f"WHEN s_{lang} = {best} THEN '{lang}' "
    return scores, case + "ELSE 'und' END"


_LANGID_SCORES, _LANGID_CASE = _langid_sql()

ORACLE_LANGID = f"""
WITH s AS (SELECT doc_id, lang, {_LANGID_SCORES} FROM documents)
SELECT doc_id, lang, {_LANGID_CASE} AS lang_pred FROM s
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized text + min shingle
    hash (content-sampled)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        TS.fingerprint(F.col("text")).alias("fp"),
        TS.min_shingle_hash(F.col("text"), 3).alias("min_shingle"),
    )


ORACLE_FINGERPRINT = """
WITH t AS (
  SELECT doc_id, regexp_replace(lower(text), ' +', ' ', 'g') AS norm,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id, md5(norm) AS fp,
  CASE WHEN len(toks) >= 3 THEN
    list_min(list_transform(range(1, len(toks) - 1),
      i -> md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))))
  END AS min_shingle
FROM t
"""


# ---------------------------------------------------- dedup / similarity

def _md5i64_sql(x: str) -> str:
    """DuckDB twin of operators.dedup.md5i64 (first 60 md5 bits as
    BIGINT) — bit-identical to Spark's conv(substring(md5(x),1,15),16,10)."""
    return f"CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


# shingles are hashed to int64 INSIDE the per-doc list (then
# list_distinct) — mirrors shingle_table's map-side transform →
# array_distinct → explode, so the engines agree even on hash collisions
_SHINGLE_BODY = f"""
  SELECT id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
      i -> {_md5i64_sql("concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])")}))) AS shingle
  FROM (SELECT doc_id AS id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents)
  WHERE len(toks) >= 3
"""

_SHINGLE_CTE = f"""
sh AS ({_SHINGLE_BODY}),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id)
"""

# the all-pairs scorers (jaccard_pairs / containment_pairs) drop
# shingles whose document frequency exceeds max_shingle_df=1000 BEFORE
# intersections AND sizes; their oracles must apply the identical cap
# or engine and replay diverge the first time a boilerplate shingle
# crosses the threshold at a larger scale (no-op at sf0.01: max df 7)
_SHINGLE_CAPPED_CTE = f"""
sh0 AS ({_SHINGLE_BODY}),
rare AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 1000),
sh AS (SELECT sh0.id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id)
"""

_VERIFY_SQL = """
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c JOIN sh a ON c.id_a = a.id JOIN sh b ON c.id_b = b.id
  WHERE a.shingle = b.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT i2.id_a, i2.id_b,
       round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter i2 JOIN sizes sa ON i2.id_a = sa.id JOIN sizes sb ON i2.id_b = sb.id
WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) >= {thr}
"""


def _corpus_survivors(d: DataFrame) -> DataFrame:
    """Shared cleaning chain (corpus_clean / training_prep): language
    gate → quality gate → exact-dedup keep-min. Returns survivors AND
    losers with doc_id, text, quality, keep_id, n_copies (callers
    filter ``doc_id == keep_id``). All pure Column expressions over ONE
    scan; the dedup window is the only shuffle."""
    t = F.col("text")
    scored = d.select(
        "doc_id", "text",
        TS.langid(t).alias("lang_pred"),
        TS.quality_score(t).alias("quality"),
    )
    kept = scored.filter(
        (F.col("lang_pred") == "en") & (F.col("quality") >= 0.3)
    ).withColumn("__h", F.md5("text"))
    # partition by the materialized hash COLUMN: partitioning by the
    # md5 expression directly makes Spark project a fresh _w0 per
    # window column and plan two Exchanges instead of one
    w = Window.partitionBy("__h")
    return (
        kept.withColumn("keep_id", F.min("doc_id").over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
    )


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning composition (the training-data
    pipeline in one plan): language gate → quality gate → exact-dedup
    keep-min — survivors with their quality and copy count
    (`_corpus_survivors`)."""
    out = _corpus_survivors(_docs(spark, sf_dir))
    return out.filter(F.col("doc_id") == F.col("keep_id")).select(
        "doc_id", "quality", "n_copies"
    )


def _corpus_clean_cte() -> str:
    return f"""b AS (
  SELECT doc_id, text,
    len(list_filter(string_split(text, ' '), x -> x <> '')) AS tok_cnt,
    len(list_filter(string_split(text, ' '),
        x -> list_contains({_STOPS_SQL}, x))) AS stop_cnt,
    length(replace(text, ' ', '')) AS chars,
    {_LANGID_SCORES}
  FROM documents
),
m AS (
  SELECT doc_id, text, {_LANGID_CASE} AS lang_pred,
    round(least(tok_cnt / 200.0, 1.0) * 0.4
          + (CASE WHEN tok_cnt > 0 THEN CAST(stop_cnt AS DOUBLE) / tok_cnt ELSE 0.0 END) * 0.3
          + least((CASE WHEN tok_cnt > 0 THEN CAST(chars AS DOUBLE) / tok_cnt ELSE 0.0 END) / 8.0, 1.0) * 0.3,
          6) AS quality
  FROM b
),
kept AS (SELECT doc_id, text, quality FROM m WHERE lang_pred = 'en' AND quality >= 0.3),
g AS (
  SELECT doc_id, text, quality,
         min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
         count(*) OVER (PARTITION BY md5(text)) AS n_copies
  FROM kept
)
"""


def _corpus_clean_oracle() -> str:
    return (
        f"WITH {_corpus_clean_cte()}\n"
        "SELECT doc_id, quality, n_copies FROM g WHERE doc_id = keep_id"
    )


def q_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL doc→training-example pipeline as ONE Spark plan:
    language gate → quality gate → exact-dedup keep-min
    (`_corpus_survivors`) → overlapping 40/32 token windows
    (`operators/windows.chunk_tokens`) → per-chunk fingerprints. No
    materialization boundary anywhere — Catalyst sees scan-to-chunks as
    a single DAG (one dedup-window shuffle, then map-only chunking), so
    column pruning reaches the scan and the cleaning predicates never
    block pipelining into the generator. Chunk text is emitted as md5
    so the driver hash pins every byte of every chunk without shipping
    the corpus through the compare."""
    from slowfast_feature_extractor_spark.operators.windows import chunk_tokens

    surv = (
        _corpus_survivors(_docs(spark, sf_dir))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "text")
    )
    ch = chunk_tokens(surv, "doc_id", TS.tokens(F.col("text")), 40, 32)
    return ch.select(
        "doc_id",
        "chunk_id",
        F.md5(F.array_join("chunk", " ")).alias("chunk_hash"),
        "chunk_len",
    )


def _training_prep_oracle() -> str:
    return (
        f"WITH {_corpus_clean_cte()},\n"
        "surv AS (SELECT doc_id, text FROM g WHERE doc_id = keep_id),\n"
        + _chunk_sql("surv", "md5({chunk})", "chunk_hash")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text), keep min doc_id."""
    return DD.exact_dedup(_docs(spark, sf_dir))


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs (word 3-grams, j >= 0.2)."""
    return DD.jaccard_pairs(_docs(spark, sf_dir), threshold=0.2)


ORACLE_DEDUP_JACCARD = f"""
WITH {_SHINGLE_CAPPED_CTE},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b USING (shingle) WHERE a.id < b.id
),
{_VERIFY_SQL.format(thr=0.2)}
"""

_N_MINHASH, _N_BANDS = 8, 4


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: banded signature collisions verified with
    exact Jaccard >= 0.2."""
    return DD.minhash_lsh_dedup(
        _docs(spark, sf_dir), num_hashes=_N_MINHASH, bands=_N_BANDS, threshold=0.2
    )


# per-doc salted MinHash signature mh0..mh7 over ``sh``: slot i is the
# min of md5i64('i:' || shingle) — operators/dedup.minhash_signatures
_MINHASH_SIG = "SELECT id, {} FROM sh GROUP BY id".format(", ".join(
    "min({}) AS mh{}".format(_md5i64_sql(f"concat('{i}:', CAST(shingle AS VARCHAR))"), i)
    for i in range(_N_MINHASH)
))


def _lsh_buckets(sig: str) -> str:
    """CTEs ``mh`` (the signature relation ``sig``) and ``buckets``
    (id, band, bucket): each band's rows joined with '|' and hashed
    with md5i64, one SELECT per band."""
    rows = _N_MINHASH // _N_BANDS

    def band(b: int) -> str:
        parts = ", '|', ".join(f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))
        return f"SELECT id, {b} AS band, {_md5i64_sql(f'concat({parts})')} AS bucket FROM mh"

    return f"mh AS ({sig}),\nbuckets AS ({' UNION ALL '.join(map(band, range(_N_BANDS)))})"


# LSH candidates: every pair sharing a (band, bucket), verified by
# exact Jaccard >= 0.2
_LSH_VERIFY = f"""cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM buckets a JOIN buckets b USING (band, bucket) WHERE a.id < b.id
),
{_VERIFY_SQL.format(thr=0.2)}"""

ORACLE_DEDUP_MINHASH = f"""
WITH {_SHINGLE_CTE},
{_lsh_buckets(_MINHASH_SIG)},
{_LSH_VERIFY}
"""


def q_dedup_minhash_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-Permutation-Hashing MinHash+LSH near-dup (Li/Owen/Zhang 2012,
    rotation densification per Shrivastava & Li 2014): ONE hash per
    shingle binned into 8 slots instead of 8 salted hash passes — the
    cheap-signature scale path. Same banding, candidate join, and
    exact-Jaccard >= 0.2 verification as dedup_minhash_lsh."""
    return DD.minhash_oph_dedup(
        _docs(spark, sf_dir), num_perm=_N_MINHASH, bands=_N_BANDS, threshold=0.2
    )


def _minhash_oph_oracle() -> str:
    p = _N_MINHASH
    raw_cols = ", ".join(
        f"min(CASE WHEN shingle % {p} = {i} THEN shingle END) AS raw{i}"
        for i in range(p)
    )
    dens_cols = []
    for i in range(p):
        branches = [f"WHEN raw{i} IS NOT NULL THEN raw{i}"]
        for j in range(1, p):
            s = f"raw{(i + j) % p}"
            h = _md5i64_sql(f"concat('{j}:', CAST({s} AS VARCHAR))")
            branches.append(f"WHEN {s} IS NOT NULL THEN {h}")
        dens_cols.append(f"CASE {' '.join(branches)} END AS mh{i}")
    return f"""
WITH {_SHINGLE_CTE},
raw AS (SELECT id, {raw_cols} FROM sh GROUP BY id),
{_lsh_buckets(f"SELECT id, {', '.join(dens_cols)} FROM raw")},
{_LSH_VERIFY}
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures per document."""
    return DD.simhash16(_docs(spark, sf_dir))


def _simhash_cte() -> str:
    digit = "(strpos('0123456789abcdef', substr(h, {p}, 1)) - 1)"
    v = " + ".join(
        f"{digit.format(p=p)} * {16 ** (4 - p)}" for p in range(1, 5)
    )
    votes = ", ".join(
        f"sum(((v >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(16)
    )
    sig = " + ".join(f"(CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    return f"""
toks AS (
  SELECT doc_id AS id,
         unnest(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS tok
  FROM documents
),
hv AS (SELECT id, {v} AS v FROM (SELECT id, md5(tok) AS h FROM toks)),
votes AS (SELECT id, {votes} FROM hv GROUP BY id),
sig AS (SELECT id, {sig} AS simhash FROM votes)
"""


def _simhash_oracle() -> str:
    return f"WITH {_simhash_cte()} SELECT id, simhash FROM sig"


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming distance <= 1 over the 16-bit
    signatures."""
    return DD.simhash_pairs(DD.simhash16(_docs(spark, sf_dir)), max_hamming=1)


def _simhash_pairs_oracle() -> str:
    pop = " + ".join(f"((x >> {j}) & 1)" for j in range(16))
    return f"""
WITH {_simhash_cte()},
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, xor(a.simhash, b.simhash) AS x
  FROM sig a, sig b WHERE a.id < b.id
)
SELECT id_a, id_b, {pop} AS hamming FROM pairs WHERE {pop} <= 1
"""


_EMB_DOUBLE = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (>= 0.4, exact — blocked-matmul
    scale path; the pair-join fallback is SIM.embedding_neardup)."""
    return SIM.embedding_neardup_blocked(_emb(spark, sf_dir), threshold=0.4)


ORACLE_DEDUP_EMBEDDING = f"""
WITH e AS ({_EMB_DOUBLE})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS sim
FROM e a, e b
WHERE a.vec_id < b.vec_id AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
"""


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup (Abbas et al. 2023): nearest-seed
    cell assignment (8 deterministic seed centroids = lowest vec_ids,
    broadcast), then cell-local pruning — a vector is dropped iff a
    lower-id cell-mate has cosine >= 0.4. One row per vector:
    (vec_id, cell, keep)."""
    return SIM.semantic_dedup(_emb(spark, sf_dir), k=8, threshold=0.4)


ORACLE_DEDUP_SEMANTIC = f"""
WITH e AS ({_EMB_DOUBLE}),
seeds AS (SELECT vec_id AS seed_id, v AS sv FROM e ORDER BY vec_id LIMIT 8),
scored AS (
  SELECT e.vec_id, s.seed_id,
         round(list_cosine_similarity(e.v, s.sv), 6) AS sim
  FROM e CROSS JOIN seeds s
),
assign AS (
  SELECT vec_id, seed_id AS cell FROM (
    SELECT vec_id, seed_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, seed_id) AS rn
    FROM scored) WHERE rn = 1
),
cells AS (SELECT a.vec_id, a.cell, e.v FROM assign a JOIN e USING (vec_id)),
removed AS (
  SELECT DISTINCT b.vec_id FROM cells a JOIN cells b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
)
SELECT c.vec_id, c.cell, (r.vec_id IS NULL) AS keep
FROM cells c LEFT JOIN removed r ON c.vec_id = r.vec_id
"""

_LSH_BITS = 4
# operators/similarity.sign_bucket: bit j set iff v[j + 1] >= 0
_SIGN_BUCKET = " + ".join(
    f"(CASE WHEN v[{j + 1}] >= 0 THEN {1 << j} ELSE 0 END)" for j in range(_LSH_BITS)
)


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sign-LSH-bucketed configuration of the blocked near-dup
    (``bits=4`` — the 10^7+-row scale path): block-pair GEMMs run only
    within a sign bucket. The bucketing (axis-aligned hyperplanes,
    operators/similarity.sign_bucket) is deterministic, so the DuckDB
    oracle reproduces the approximate semantics EXACTLY — this row
    checks plan correctness; recall-vs-exact is asserted separately on
    planted near-dups (tests/test_similarity.py)."""
    return SIM.embedding_neardup_blocked(
        _emb(spark, sf_dir), threshold=0.4, bits=_LSH_BITS
    )


ORACLE_DEDUP_EMBEDDING_LSH = f"""
WITH e AS ({_EMB_DOUBLE}),
b AS (SELECT vec_id, v, {_SIGN_BUCKET} AS bkt FROM e)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b2.v), 6) AS sim
FROM b a JOIN b b2 ON a.bkt = b2.bkt AND a.vec_id < b2.vec_id
WHERE round(list_cosine_similarity(a.v, b2.v), 6) >= 0.4
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the embedding
    near-dup pairs (iterative min-label propagation, Pregel-style);
    cluster_id = component-minimum id, the canonical survivor. Oracle =
    recursive-CTE reachability over the same pairs."""
    pairs = SIM.embedding_neardup_blocked(_emb(spark, sf_dir), threshold=0.4)
    return DD.dedup_clusters(pairs)


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same near-dup clusters as `dedup_clusters`, computed with
    large-star/small-star contraction (operators/dedup.
    dedup_clusters_star): O(log n) rounds independent of component
    diameter — the variant that survives adversarial near-dup CHAINS
    at corpus scale, where min-label propagation needs O(n) rounds.
    Oracle identical: recursive-CTE reachability over the same pairs,
    so the two engine variants AND the oracle must agree three ways."""
    pairs = SIM.embedding_neardup_blocked(_emb(spark, sf_dir), threshold=0.4)
    return DD.dedup_clusters_star(pairs)


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE p AS ({ORACLE_DEDUP_EMBEDDING}),
ed AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
reach(node, r) AS (
  SELECT DISTINCT a, a FROM ed
  UNION
  SELECT ed.b, reach.r FROM reach JOIN ed ON ed.a = reach.node
)
SELECT node AS id, min(r) AS cluster_id FROM reach GROUP BY node
"""


def _queries_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the first 10 vectors (blocked
    matmul; pair-join fallback is SIM.knn_bruteforce)."""
    return SIM.knn_bruteforce_blocked(
        _emb(spark, sf_dir), _queries_subset(spark, sf_dir), k=5
    )


def _knn_top5(order: str, out: str) -> str:
    """The kNN oracles' tail: rank each query's ``scored`` neighbours by
    ``order`` (ties to the lower neighbour id), keep the top 5 and
    select ``query_id, neighbor_id, {out}``."""
    return f"""r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY {order}, neighbor_id ASC) AS rank
      FROM scored)
SELECT query_id, neighbor_id, {out} FROM r WHERE rank <= 5"""


ORACLE_KNN_BRUTEFORCE = f"""
WITH e AS ({_EMB_DOUBLE}),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(e.v, q.qv), 6) AS sim
  FROM e, q WHERE e.vec_id <> q.query_id
),
{_knn_top5("sim DESC", "rank, sim")}
"""


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN top-5 (scale path of knn_bruteforce)."""
    return SIM.knn_lsh(
        _emb(spark, sf_dir), _queries_subset(spark, sf_dir), k=5, bits=_LSH_BITS
    )


ORACLE_KNN_LSH = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  {_SIGN_BUCKET} AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(e.v, q.qv), 6) AS sim
  FROM e JOIN q USING (bucket) WHERE e.vec_id <> q.query_id
),
{_knn_top5("sim DESC", "rank, sim")}
"""


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the deterministic seed quantizer (VERDICT r5 #3):
    centroids are the 8 lowest-id corpus vectors (one pass, no KMeans
    iterations — the semantic_dedup pattern), so DuckDB replays cell
    assignment + probing exactly and the row hash-matches. The
    production seeded-KMeans quantizer stays the default in
    operators/similarity.knn_ivf and is driver-exercised by
    knn_ivf_fullprobe (exact at n_probe=n_cells) + a recall pytest."""
    return SIM.knn_ivf(
        _emb(spark, sf_dir), _queries_subset(spark, sf_dir),
        k=5, n_cells=8, n_probe=4, quantizer="seed",
    )


ORACLE_KNN_IVF = f"""
WITH e AS ({_EMB_DOUBLE}),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cv
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)
),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, s.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_distance(e.v, s.cv) ** 2, 6) ASC,
                                       s.cell ASC) AS rn
    FROM e CROSS JOIN seeds s) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
qprobe AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, s.cell,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY round(list_distance(q.qv, s.cv) ** 2, 6) ASC,
                                       s.cell ASC) AS rn
    FROM q CROSS JOIN seeds s) WHERE rn <= 4
),
scored AS (
  SELECT qp.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(a.v, qp.qv), 6) AS sim
  FROM assign a JOIN qprobe qp USING (cell)
  WHERE a.vec_id <> qp.query_id
),
{_knn_top5("sim DESC", "rank, sim")}
"""


def _q_knn_ivfpq(spark: SparkSession, sf_dir: str, n_cells: int | None) -> DataFrame:
    """Product-quantization ANN (operators/similarity.knn_ivfpq):
    64-dim vectors -> 8 subspace codes against deterministic seed
    codebooks; scoring is fully relational ADC (broadcast per-query
    lookup table joined to the exploded codes, groupBy sum, top-5
    rank) — the FAISS memory path where queries never touch the raw
    corpus vectors. Seed codebooks + round-6 distances make the whole
    thing SQL-replayable; a recall pytest covers approximation
    quality on a clustered fixture.

    - ``knn_ivfpq``: every query scores the whole corpus;
    - ``knn_ivfpq_ivf`` (``n_cells=8``): the full FAISS IVF-PQ
      composition — a seed coarse quantizer (the knn_ivf pattern)
      restricts each query's ADC scoring to its 4 probed cells, so
      candidates drop from O(N·Q) to O(N·Q·probe/cells), the shape that
      makes PQ usable at 10^10 vectors; the scoring join just gains the
      cell equi-key."""
    return SIM.knn_ivfpq(
        _emb(spark, sf_dir), _queries_subset(spark, sf_dir),
        k=5, m_sub=8, n_codes=16, n_cells=n_cells, n_probe=4,
    )


q_knn_ivfpq = functools.partial(_q_knn_ivfpq, n_cells=None)
q_knn_ivfpq_ivf = functools.partial(_q_knn_ivfpq, n_cells=8)


def _knn_ivfpq_oracle(
    m_sub: int = 8, n_codes: int = 16, sub: int = 8, n_cells: int | None = None
) -> str:
    """Oracle of ``SIM.knn_ivfpq``; with ``n_cells`` (lowest-id seed
    centroids), each query scores only the corpus vectors of its 4
    nearest cells (``n_probe=4``)."""
    sl_e = f"e.v[(t.m*{sub}+1):((t.m+1)*{sub})]"
    sl_s = f"s.v[(t.m*{sub}+1):((t.m+1)*{sub})]"
    sl_q = f"q.qv[(t.m*{sub}+1):((t.m+1)*{sub})]"
    cells = probe = ""
    lut_join = "JOIN lut l ON l.m = a.m AND l.code = a.code"
    if n_cells is not None:
        cells = f"""cseeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cv
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT {n_cells})
),
cellassign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_distance(e.v, c.cv) ** 2, 6) ASC,
                                       c.cell ASC) AS rn
    FROM e CROSS JOIN cseeds c) WHERE rn = 1
),"""
        probe = f"""qprobe AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY round(list_distance(q.qv, c.cv) ** 2, 6) ASC,
                                       c.cell ASC) AS rn
    FROM q CROSS JOIN cseeds c) WHERE rn <= 4
),"""
        lut_join = """JOIN cellassign ca ON ca.vec_id = a.vec_id
  JOIN qprobe qp ON qp.cell = ca.cell
  JOIN lut l ON l.query_id = qp.query_id AND l.m = a.m AND l.code = a.code"""
    return f"""
WITH e AS ({_EMB_DOUBLE}),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, v
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT {n_codes})
),
{cells}
assign AS (
  SELECT vec_id, m, code FROM (
    SELECT e.vec_id, t.m, s.code,
           row_number() OVER (PARTITION BY e.vec_id, t.m
                              ORDER BY round(list_distance({sl_e}, {sl_s}) ** 2, 6) ASC,
                                       s.code ASC) AS rn
    FROM e CROSS JOIN range(0, {m_sub}) t(m) CROSS JOIN seeds s) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
{probe}
lut AS (
  SELECT q.query_id, t.m, s.code,
         round(list_distance({sl_q}, {sl_s}) ** 2, 6) AS d2r
  FROM q CROSS JOIN range(0, {m_sub}) t(m) CROSS JOIN seeds s
),
scored AS (
  SELECT l.query_id, a.vec_id AS neighbor_id, round(sum(l.d2r), 6) AS adist
  FROM assign a
  {lut_join}
  WHERE a.vec_id <> l.query_id
  GROUP BY l.query_id, a.vec_id
),
{_knn_top5("adist ASC", "CAST(rank AS INT) AS rank, adist")}
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, the A-Res scheme every quality-weighted corpus
    sampler uses): each doc draws a deterministic uniform u from its
    id hash and ranks by ln(u)/weight (monotone twin of u^(1/w));
    the top-5 per source are the sample, inclusion probability
    proportional to weight (n_chars here — swap in a quality score in
    production). One-pass, map-only scoring + a per-group
    WindowGroupLimit rank — the distributed reservoir at any corpus
    size, no sequential state. The rank key is rounded to 12 dp with
    a doc_id tie-break so sub-noise float drift can't flip an order
    (standing boundary caveat)."""
    d = _docs(spark, sf_dir)
    u = (
        (DD.md5i64(F.concat(F.lit("ws:"), F.col("doc_id").cast("string")))
         % F.lit(9007199254740992).cast("long"))
        + 1
    ) / F.lit(9007199254740992.0)
    key = F.round(F.log(u) / F.col("n_chars"), 12)
    t = d.select("doc_id", "source", "n_chars", key.alias("akey"))
    w = Window.partitionBy("source").orderBy(
        F.col("akey").desc(), F.col("doc_id").asc()
    )
    return (
        t.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "source",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "n_chars",
            F.col("akey").alias("res_key"),
        )
    )


ORACLE_WEIGHTED_SAMPLE = f"""
WITH t AS (
  SELECT doc_id, source, n_chars,
         round(ln((({_md5i64_sql(
             "concat('ws:', CAST(doc_id AS VARCHAR))"
         )} % 9007199254740992) + 1) / 9007199254740992.0)
               / n_chars, 12) AS akey
  FROM documents
)
SELECT source, CAST(rank AS INT) AS rank, doc_id, n_chars,
       akey AS res_key
FROM (SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY akey DESC, doc_id ASC) AS rank
      FROM t)
WHERE rank <= 5
"""


def q_multimodal_jpeg_lossless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless JPEG decode (T.81 process 14 / SOF3 — the format
    DNG and medical stacks emit; operators/multimodal:
    synth_jpeg_lossless + decode_jpeg's lossless path): per document a
    w×h image of hash-valued 12-bit samples is encoded with predictor
    1 + doc_id % 7 and round-tripped; because the format is LOSSLESS
    the decode returns the synth samples bit-for-bit, so the oracle
    recomputes the sample sum / min / max / md5 of the raster order
    ANALYTICALLY from the same md5-derived formula — a predictor,
    Huffman, or difference-coding bug breaks the hash. Arrow-batched
    decode through operators/multimodal.map_blobs."""
    import hashlib

    def make(doc_id: int, tlen: int) -> bytes:
        def sv(x, y, c):
            s = f"lj:{doc_id}:{x}:{y}"
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 4096

        return MM.synth_jpeg_lossless(
            4 + doc_id % 5, 3 + doc_id % 4, sv, precision=12,
            predictor=1 + doc_id % 7, ncomp=1,
        )

    def decode(b: bytes) -> list[tuple]:
        d = MM.decode_jpeg(b)
        s = d["samples"][0]
        raster = " ".join(str(int(v)) for row in s for v in row)
        return [(d["width"], d["height"], int(s.sum()), int(s.min()),
                 int(s.max()), hashlib.md5(raster.encode()).hexdigest())]

    return MM.map_blobs(
        _synth_media(spark, sf_dir, "image", make), "doc_id", "image",
        "doc_id long, w int, h int, sum_s long, min_s int, max_s int, "
        "raster_md5 string",
        decode,
    )


ORACLE_MULTIMODAL_JPEG_LOSSLESS = f"""
WITH px AS (
  SELECT doc_id,
         CAST(4 + doc_id % 5 AS INT) AS w,
         CAST(3 + doc_id % 4 AS INT) AS h,
         y, x,
         {_md5i64_sql(
             "concat('lj:', CAST(doc_id AS VARCHAR), ':', "
             "CAST(x AS VARCHAR), ':', CAST(y AS VARCHAR))"
         )} % 4096 AS v
  FROM documents,
       unnest(range(0, CAST(3 + doc_id % 4 AS INT))) AS ty(y),
       unnest(range(0, CAST(4 + doc_id % 5 AS INT))) AS tx(x)
)
SELECT doc_id, any_value(w) AS w, any_value(h) AS h,
       CAST(sum(v) AS BIGINT) AS sum_s,
       CAST(min(v) AS INT) AS min_s,
       CAST(max(v) AS INT) AS max_s,
       md5(string_agg(CAST(v AS VARCHAR), ' ' ORDER BY y, x)) AS raster_md5
FROM px GROUP BY doc_id
"""


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 STREAM-STREAM interval join — the one Structured Streaming
    join shape the engine had not yet exercised (sessionize/dual-rate
    are stateful single-input; warc ingest is stateless): the events
    table splits into a 'starts' stream (even event ids) and an 'ends'
    stream (odd ids), both watermarked at 2 hours, inner-joined on
    user_id with b_ts in [a_ts, a_ts + 1 hour] — the
    impression⨝click attribution query. Each side is staged as TWO
    time-ordered files (maxFilesPerTrigger=1 → real multi-batch state
    buffering and watermark-driven eviction between batches): because
    arrival is event-time-ordered within the 2-hour watermark slack
    and the join window is 1 hour, no needed state is ever evicted —
    so the emitted matches equal the batch interval join EXACTLY and
    the row hashes against a plain DuckDB join. Gap reported in exact
    integer microseconds."""
    ev = _ev(spark, sf_dir).select("event_id", "user_id", "ts")
    base = _scratch("stream_join")
    # time-split staging: order by ts, first half to file 0, rest to
    # file 1 (replay machinery, not the operator — the global window
    # here ranks the fixture once at build time)
    half = F.percent_rank().over(Window.orderBy("ts", "event_id")) >= 0.5
    ranked = ev.withColumn("half", half.cast("int"))
    halves = [ranked.filter(F.col("half") == h).drop("half") for h in (0, 1)]

    def side(parity: int, prefix: str) -> DataFrame:
        return _replay(
            spark, os.path.join(base, prefix),
            "event_id long, user_id long, ts timestamp",
            *(p.filter(F.col("event_id") % 2 == parity) for p in halves),
        ).withWatermark("ts", "2 hours").select(
            F.col("event_id").alias(f"{prefix}_id"),
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("ts").alias(f"{prefix}_ts"),
        )

    a, b = side(0, "a"), side(1, "b")
    joined = a.join(
        b,
        F.expr(
            "a_user = b_user AND b_ts >= a_ts "
            "AND b_ts <= a_ts + INTERVAL 1 HOUR"
        ),
    ).select(
        F.col("a_user").alias("user_id"),
        "a_id",
        "b_id",
        (epoch_us(F.col("b_ts")) - epoch_us(F.col("a_ts"))).alias("gap_us"),
    )
    out = _run_available_now(joined, base)
    return spark.read.parquet(out)


ORACLE_STREAM_JOIN = """
WITH a AS (
  SELECT user_id, event_id AS a_id, ts AS a_ts
  FROM events WHERE event_id % 2 = 0
), b AS (
  SELECT user_id, event_id AS b_id, ts AS b_ts
  FROM events WHERE event_id % 2 = 1
)
SELECT a.user_id, a_id, b_id,
       epoch_us(b_ts) - epoch_us(a_ts) AS gap_us
FROM a JOIN b ON a.user_id = b.user_id
             AND b.b_ts >= a.a_ts
             AND b.b_ts <= a.a_ts + INTERVAL 1 HOUR
"""


def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007),
    fully relational and REPRODUCIBLE, with the exact count alongside:
    per source, token hashes split into 1024 registers (low 10 bits)
    and a 50-bit rank window; each register keeps max(rho). The
    harmonic-mean denominator is accumulated as the EXACT INTEGER
    sum of 2^(50-rho) (every term a dyadic ≤ 2^50, 1024 terms fit
    int64) so no float addition order can wobble the estimate — the
    only doubles are one division and the small-range linear-counting
    branch, rounded to 3 dp. At 100 TB this is the mergeable
    distinct-count that replaces count(DISTINCT) in every dashboard:
    register maxes partial-aggregate map-side, the merge is max, and
    the final state is 1024 ints per group. The exact count rides
    along so the driver hash also pins the estimate's error."""
    m = 1024
    d = _docs(spark, sf_dir)
    # 3-gram shingles, not unigrams: the fixture vocabulary is ~30
    # tokens per source (always linear-counting), shingle cardinality
    # is ~10^3 per source so BOTH estimator branches execute
    toks = d.select(
        "source", F.explode(TS.shingles(F.col("text"), 3)).alias("w")
    ).select("source", DD.md5i64(F.col("w")).alias("h"))
    # ONE cascade instead of the r6 regs/exact twin pipelines (which
    # evaluated the shingle explode + md5 twice and joined at the end):
    # distinct (source, h) first, then per-register max(rho) ALONG WITH
    # the register's distinct-hash count — exact_distinct per source is
    # exactly the sum of those counts because reg = h % m partitions the
    # distinct hashes. Every stage partial-aggregates map-side.
    dist = toks.distinct().select(
        "source",
        (F.col("h") % m).alias("reg"),
        F.shiftright("h", 10).alias("w2"),
    ).select(
        "source",
        "reg",
        F.when(F.col("w2") == 0, F.lit(51))
        .otherwise(F.lit(51) - F.length(F.expr("bin(w2)")))
        .alias("rho"),
    )
    per_reg = dist.groupBy("source", "reg").agg(
        F.max("rho").alias("mj"), F.count(F.lit(1)).alias("nd")
    )
    agg = per_reg.groupBy("source").agg(
        F.count(F.lit(1)).cast("int").alias("n_regs"),
        F.sum(F.pow(F.lit(2.0), 50 - F.col("mj")).cast("long"))
        .cast("long")
        .alias("sum_present"),
        F.sum("nd").cast("long").alias("exact_distinct"),
    )
    zeros = F.lit(m) - F.col("n_regs")
    sum_scaled = F.col("sum_present") + zeros.cast("long") * F.lit(1 << 50)
    # single precomputed double numerator: alpha * m^2 * 2^50 — both
    # engines then perform ONE division, so no multiply-order drift
    e_raw = F.lit(_HLL_NUMERATOR) / sum_scaled
    est = F.when(
        (e_raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(e_raw)
    return agg.select(
        "source",
        "n_regs",
        zeros.cast("int").alias("zeros"),
        sum_scaled.alias("sum_scaled"),
        F.round(est, 3).alias("est_hll"),
        "exact_distinct",
    )


_HLL_NUMERATOR = 0.7213 / (1 + 1.079 / 1024) * 1024 * 1024 * float(1 << 50)


ORACLE_DISTINCT_SKETCH = f"""
WITH t AS (
  SELECT source,
         {_md5i64_sql("w")} AS h
  FROM (SELECT source,
               unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                   i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) AS w
        FROM (SELECT source,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents)
        WHERE len(toks) >= 3)
), r AS (
  SELECT source, h % 1024 AS reg,
         CASE WHEN h // 1024 = 0 THEN 51
              ELSE 51 - length(bin(h // 1024)) END AS rho
  FROM t
), pr AS (
  SELECT source, reg, max(rho) AS mj FROM r GROUP BY source, reg
), a AS (
  SELECT source, CAST(count(*) AS INT) AS n_regs,
         CAST(sum(CAST(2.0 ** (50 - mj) AS BIGINT)) AS BIGINT)
             AS sum_present
  FROM pr GROUP BY source
), x AS (
  SELECT source, CAST(count(DISTINCT h) AS BIGINT) AS exact_distinct
  FROM t GROUP BY source
)
SELECT a.source, n_regs,
       CAST(1024 - n_regs AS INT) AS zeros,
       sum_present + CAST(1024 - n_regs AS BIGINT) * {1 << 50} AS sum_scaled,
       round(CASE WHEN ({_HLL_NUMERATOR!r}
                        / (sum_present
                           + CAST(1024 - n_regs AS BIGINT) * {1 << 50}))
                  <= 2560.0 AND n_regs < 1024
             THEN 1024.0 * ln(1024.0 / (1024 - n_regs))
             ELSE ({_HLL_NUMERATOR!r}
                   / (sum_present
                      + CAST(1024 - n_regs AS BIGINT) * {1 << 50}))
             END, 3) AS est_hll,
       exact_distinct
FROM a JOIN x ON x.source = a.source
"""


def q_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio FEATURE EXTRACTION (operators/multimodal.audio_spectral)
    — the spectral analog of the reference's per-clip feature pass
    (reference/extract_feature.py): per document a 1024-sample WAV is
    synthesized with TWO exact-bin tones (dominant 12000 amplitude at
    bin 20 + doc_id%200, secondary amp CASE(doc_id%4) in
    {3000,4500,6000,9000} at bin 250 + doc_id%150), round-tripped
    through the real RIFF container, decoded, and rFFT'd; the row
    emits the top-2 magnitude bins and the dominant-magnitude share.
    Exact-bin tones make argmax immune to float noise and the int16
    quantization floor shifts the share by <0.05% — every planted
    ratio sits >=0.17 from a rounding boundary, so the oracle
    recomputes all outputs ANALYTICALLY from the synth parameters."""
    import math

    import numpy as np

    n = 1024
    amps = [3000, 4500, 6000, 9000]
    t = np.arange(n, dtype=np.float64)

    def make(doc_id: int, tlen: int) -> bytes:
        # numpy tone synthesis (r7): the listcomp made 2*1024 math.sin
        # calls per doc — ~100M at sf1.0, the row's dominant CPU.
        # Output-safe: the refactored argument/libm path perturbs a
        # sample by O(1e-12) relative (both roundings half-even), while
        # every emitted value (argmax bins over thousands-wide
        # magnitude gaps, integer dom_ratio_pct with a planted >=0.17
        # margin) tolerates the full int16 quantization floor — orders
        # of magnitude coarser. Oracle replay confirms at both SFs.
        b1 = 20 + doc_id % 200
        b2 = 250 + doc_id % 150
        wave = np.rint(
            12000.0 * np.sin((2 * math.pi * b1 / n) * t)
            + amps[doc_id % 4] * np.sin((2 * math.pi * b2 / n) * t)
        ).astype(np.int64)
        return MM.synth_wav(16000, 1, wave.tolist())

    return MM.audio_spectral(_synth_media(spark, sf_dir, "audio", make))


ORACLE_AUDIO_SPECTRAL = """
SELECT doc_id,
       CAST(1024 AS INT) AS n_samples,
       CAST(20 + doc_id % 200 AS INT) AS dom_bin,
       CAST(250 + doc_id % 150 AS INT) AS second_bin,
       CAST(round(100.0 * 12000 /
            (12000 + CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 3000 WHEN 1 THEN 4500
                     WHEN 2 THEN 6000 ELSE 9000 END)) AS INT)
           AS dom_ratio_pct
FROM documents
"""


def q_content_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/P10/J3: bbox-crop analog — a deliberately-incomplete side
    table of byte ranges left-joined on the page key selects the content
    region of the raw bytes; rows without a region keep the full
    document (reference/just_test_v1.py:139-175 crop_frame, 52-77 side-
    file load, 192 missing-bbox tolerance). Hashes run over the HEX of
    the sliced bytes so the oracle is byte-accurate (not char-sliced)."""
    from slowfast_feature_extractor_spark.operators.regions import (
        apply_content_regions,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.col("doc_id").cast("string").alias("url"),
        F.to_timestamp(F.lit("2020-01-01 00:00:00")).alias("warc_ts"),
        F.encode("text", "utf-8").alias("html"),
    )
    regions = d.filter(F.col("doc_id") % 3 == 0).select(
        "url",
        "warc_ts",
        F.lit(5).alias("content_start"),
        (F.lit(5) + F.floor(F.length("html") / 2)).cast("int").alias("content_end"),
    )
    out = apply_content_regions(d, regions)
    return out.select(
        "doc_id",
        (F.col("doc_id") % 3 == 0).alias("has_region"),
        F.md5(F.hex("html_region")).alias("region_md5"),
        F.length("html_region").cast("long").alias("region_bytes"),
    )


ORACLE_CONTENT_REGIONS = """
WITH d AS (SELECT doc_id, hex(encode(text)) AS h,
                  octet_length(encode(text)) AS nb FROM documents),
r AS (SELECT doc_id, 5 AS cs, 5 + (nb // 2) AS ce FROM d WHERE doc_id % 3 = 0),
j AS (
  SELECT d.doc_id, r.cs IS NOT NULL AS has_region,
         CASE WHEN r.cs IS NOT NULL
              THEN substring(d.h, 2 * r.cs + 1, 2 * (r.ce - r.cs))
              ELSE d.h END AS region_hex
  FROM d LEFT JOIN r USING (doc_id)
)
SELECT doc_id, has_region, md5(region_hex) AS region_md5,
       CAST(length(region_hex) // 2 AS BIGINT) AS region_bytes
FROM j
"""


def q_resample_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/W6: fixed-length temporal resample (the reference's
    resample_to_20, just_test_v1.py:816-823, with pad-repeat-last /
    zero-pad edges, test_net.py:126-136 + datasets/videoset.py:194-196):
    each user's ordered cents series linear-interpolated to 8 points,
    exploded for hashing."""
    from slowfast_feature_extractor_spark.functions.vector import resample_udf

    ev = _ev(spark, sf_dir)
    agg = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ts").alias("t"),
                        F.col("event_id").alias("e"),
                        F.col("value_cents").cast("double").alias("v"),
                    )
                )
            ),
            lambda x: x["v"],
        ).alias("series")
    )
    out = agg.withColumn("vec", resample_udf(8)(F.col("series")))
    return out.select(
        "user_id", F.posexplode("vec").alias("idx", "value")
    ).withColumn("value", F.round("value", 6))


ORACLE_RESAMPLE_SERIES = f"""
WITH ev AS ({_EV_CENTS_SQL}),
s AS (SELECT user_id,
             list(CAST(value_cents AS DOUBLE) ORDER BY ts, event_id) AS series
      FROM ev GROUP BY user_id),
v AS (SELECT user_id, {_resample_sql('series', 8)} AS vec FROM s)
SELECT user_id, CAST(r.idx AS INT) AS idx,
       round(vec[CAST(r.idx AS INT) + 1], 6) AS value
FROM v, range(0, 8) AS r(idx)
"""


def q_featurize_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 granularity-as-parameter (the reference's task-level variant,
    reference/task_slowfast.py:1389: concatenate a task's segments, then
    sample): sessionize, ordered-concat each session's series, resample
    to a fixed-length session vector, explode for hashing."""
    from slowfast_feature_extractor_spark.functions.vector import resample_udf

    ev = sessionize(
        _ev(spark, sf_dir), entity="user_id", ts="ts",
        gap_seconds=1800.0, tiebreak="event_id",
    )
    agg = ev.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_revisits"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ts").alias("t"),
                        F.col("event_id").alias("e"),
                        F.col("value_cents").cast("double").alias("v"),
                    )
                )
            ),
            lambda x: x["v"],
        ).alias("series"),
    )
    out = agg.withColumn("vec", resample_udf(4)(F.col("series")))
    return out.select(
        "user_id", "session_idx", "n_revisits",
        F.posexplode("vec").alias("idx", "value"),
    ).withColumn("value", F.round("value", 6))


ORACLE_FEATURIZE_SESSIONS = f"""
{_gap_sessions('>')},
g AS (
  SELECT user_id, session_idx, count(*) AS n_revisits,
         list(CAST(value_cents AS DOUBLE) ORDER BY ts, event_id) AS series
  FROM s GROUP BY user_id, session_idx
),
v AS (SELECT user_id, session_idx, n_revisits,
             {_resample_sql('series', 4)} AS vec FROM g)
SELECT user_id, session_idx, n_revisits, CAST(r.idx AS INT) AS idx,
       round(vec[CAST(r.idx AS INT) + 1], 6) AS value
FROM v, range(0, 4) AS r(idx)
"""


def q_span_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: contiguous-span sampling with centered start
    (reference/hiera_test.py:109-125) — 8 values at stride 2 from each
    user's ordered series, clamp-to-last on short series, exploded."""
    from slowfast_feature_extractor_spark.operators.windows import span_sample

    ev = _ev(spark, sf_dir)
    agg = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ts").alias("t"),
                        F.col("event_id").alias("e"),
                        F.col("value_cents").alias("v"),
                    )
                )
            ),
            lambda x: x["v"],
        ).alias("series")
    )
    out = agg.withColumn("picked", span_sample(F.col("series"), num_frames=8, stride=2))
    return out.select("user_id", F.posexplode("picked").alias("idx", "value"))


ORACLE_SPAN_SAMPLE = f"""
WITH ev AS ({_EV_CENTS_SQL}),
s AS (SELECT user_id, list(value_cents ORDER BY ts, event_id) AS series
      FROM ev GROUP BY user_id),
p AS (
  SELECT user_id, series, len(series) AS n,
         CASE WHEN len(series) >= 16
              THEN CAST(floor((len(series) - 16) / 2) AS INT) ELSE 0 END AS start
  FROM s
)
SELECT user_id, CAST(r.idx AS INT) AS idx,
       series[least(start + CAST(r.idx AS INT) * 2, n - 1) + 1] AS value
FROM p, range(0, 8) AS r(idx)
WHERE n > 0
"""


def q_window_tri_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 multi-layer fusion: THREE window granularities (the
    reference's s3/s4/s5 layer means, faster_rcnn_slowfast_finetune.py:
    508-530) computed over ONE entity partition + sort, fused into a
    single array column (concat order fine||mid||coarse mirroring
    models/head_helper.py:19)."""
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fine = w.rowsBetween(-8, -1)
    mid = w.rowsBetween(-32, -1)
    coarse = w.rowsBetween(-128, -1)
    f1 = F.round(F.avg("value_cents").over(fine), 6)
    f2 = F.round(F.avg("value_cents").over(mid), 6)
    f3 = F.round(F.avg("value_cents").over(coarse), 6)
    return ev.select(
        "user_id", "ts", "event_id",
        f1.alias("f_fine"), f2.alias("f_mid"), f3.alias("f_coarse"),
        # fused vector rendered as a canonical string: array-typed
        # columns round-trip differently through pandas in the two
        # engines (numpy array vs list), which would break the value
        # hash even when elements match
        F.format_string(
            "%.6f|%.6f|%.6f",
            F.coalesce(f1, F.lit(0.0)),
            F.coalesce(f2, F.lit(0.0)),
            F.coalesce(f3, F.lit(0.0)),
        ).alias("fused"),
    )


ORACLE_WINDOW_TRI_RATE = f"""
WITH ev AS ({_EV_CENTS_SQL})
SELECT user_id, ts, event_id,
  round(avg(value_cents) OVER w1, 6) AS f_fine,
  round(avg(value_cents) OVER w2, 6) AS f_mid,
  round(avg(value_cents) OVER w3, 6) AS f_coarse,
  printf('%.6f|%.6f|%.6f',
         COALESCE(round(avg(value_cents) OVER w1, 6), 0.0),
         COALESCE(round(avg(value_cents) OVER w2, 6), 0.0),
         COALESCE(round(avg(value_cents) OVER w3, 6), 0.0)) AS fused
FROM ev
WINDOW
  w1 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING),
  w2 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 32 PRECEDING AND 1 PRECEDING),
  w3 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 128 PRECEDING AND 1 PRECEDING)
"""


def q_knn_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with n_probe = n_cells: probes every cell, so the candidate
    set is the full corpus and the result reduces to the EXACT top-k —
    a driver-checkable row for the IVF join/assignment machinery
    (shares ORACLE_KNN_BRUTEFORCE)."""
    return SIM.knn_ivf(
        _emb(spark, sf_dir), _queries_subset(spark, sf_dir),
        k=5, n_cells=8, n_probe=8, fit_fraction=0.25,
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media plumbing: docs text as opaque bytes → Arrow-batched
    metadata + deterministic fake feature (decode stubs documented in
    operators/multimodal.py)."""
    d = _docs(spark, sf_dir).withColumn("media", F.encode(F.col("text"), "utf-8"))
    return MM.media_meta(d, media_col="media", id_col="doc_id")


ORACLE_MULTIMODAL_META = """
WITH d AS (SELECT doc_id, octet_length(encode(text)) AS nb,
                  hex(encode(text)) AS h FROM documents)
SELECT doc_id, CAST(nb AS BIGINT) AS n_bytes, md5(h) AS digest,
       CAST(nb * 1 % 97 AS DOUBLE) AS f1,
       CAST(nb * 2 % 97 AS DOUBLE) AS f2,
       CAST(nb * 3 % 97 AS DOUBLE) AS f3,
       CAST(nb * 4 % 97 AS DOUBLE) AS f4
FROM d
"""


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (stdlib WAV codec, operators/multimodal.py:
    decode_audio): per document, a WAV blob is synthesized with
    parameters and int16 samples derived deterministically from
    (doc_id, text length), round-tripped through the actual RIFF
    container, decoded, and reduced to integer amplitude aggregates.
    The oracle recomputes every output analytically from the synth
    formula — so a header-parse or PCM-unpack bug breaks the hash."""

    def make(doc_id: int, tlen: int) -> bytes:
        chs = 1 + doc_id % 2
        frames = [
            tuple(((doc_id * 31 + i * 7 + ch * 13) % 2001) - 1000 for ch in range(chs))
            for i in range(50 + (tlen % 200))
        ]
        return MM.synth_wav(8000 + (doc_id % 8) * 1000, chs, frames)

    audio = _synth_media(spark, sf_dir, "audio", make)
    return MM.audio_meta(audio, media_col="audio", id_col="doc_id")


ORACLE_MULTIMODAL_AUDIO = """
WITH p AS (
  SELECT doc_id,
         8000 + (doc_id % 8) * 1000 AS sample_rate,
         1 + (doc_id % 2) AS channels,
         50 + (length(text) % 200) AS n_frames
  FROM documents
)
SELECT doc_id,
       CAST(sample_rate AS INT) AS sample_rate,
       CAST(channels AS INT) AS channels,
       CAST(2 AS INT) AS sample_width,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(n_frames * 1000 // sample_rate AS BIGINT) AS duration_ms,
       CAST(list_sum(list_transform(range(0, CAST(n_frames * channels AS INT)),
            t -> abs(((doc_id * 31 + (t // channels) * 7 + (t % channels) * 13)
                      % 2001) - 1000))) AS BIGINT) AS sum_abs,
       CAST(list_max(list_transform(range(0, CAST(n_frames * channels AS INT)),
            t -> abs(((doc_id * 31 + (t // channels) * 7 + (t % channels) * 13)
                      % 2001) - 1000))) AS INT) AS peak
FROM p
"""


def q_multimodal_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode + REAL resize (stdlib BMP codec +
    nearest-neighbor kernel, operators/multimodal.py): per document a
    24-bit BMP is synthesized from (doc_id, text length), round-tripped
    through the actual BMP container, decoded, resized to 8×6, and
    reduced to integer channel sums. The oracle recomputes everything
    analytically — a header, BGR-order, row-padding, bottom-up, or
    resize-index bug breaks the hash."""

    def make(doc_id: int, tlen: int) -> bytes:
        px = _mm_pixel(doc_id)
        return MM.synth_bmp(4 + doc_id % 13, 4 + tlen % 11, lambda x, y: px(x, y)[:3])

    img = _synth_media(spark, sf_dir, "image", make)
    return MM.image_meta(img, media_col="image", id_col="doc_id", resize_to=(8, 6))


def _mm_pixel(doc_id: int):
    """The BMP/PNG rows' pixel formula ``(x, y) -> (r, g, b, a)`` (alpha
    only reaches RGBA PNGs; the channel sums ignore it)."""

    def px(x, y):
        return (
            (doc_id * 7 + y * 31 + x * 13) % 256,
            (doc_id * 11 + y * 17 + x * 5) % 256,
            (doc_id * 3 + y * 7 + x * 19) % 256,
            (doc_id * 5 + y * 3 + x * 11) % 256,
        )

    return px


_Chan = Callable[[str, str, str], str]


def _pixel_sums(chan: _Chan, resized: bool = False) -> str:
    """The media oracles' channel sums: ``sum_{r,g,b}`` over the full
    ``w`` × ``h`` raster, or ``rs_sum_{r,g,b}`` over the 8×6
    nearest-neighbour resize. ``chan(c, x, y)`` is channel ``c``'s SQL
    at pixel (``x``, ``y``), both given as unparenthesised SQL over the
    list index ``t``."""
    n, x, y, pre = (
        ("48", "((t % 8) * w) // 8", "((t // 8) * h) // 6", "rs_") if resized
        else ("CAST(w * h AS INT)", "t % w", "t // w", "")
    )
    return ", ".join(
        f"CAST(list_sum(list_transform(range(0, {n}), t -> {chan(c, x, y)}))"
        f" AS BIGINT) AS {pre}sum_{c}"
        for c in "rgb"
    )


def _image_oracle(dims: str, bpp: str, chan: _Chan) -> str:
    """Analytic oracle of an ``image_meta(resize_to=(8, 6))`` row: per
    document the geometry ``dims`` (SQL defining ``w`` and ``h``), the
    source ``bpp`` and the full and resized channel sums of ``chan``.
    Decoded values are layout-independent, so one oracle covers every
    encoding of the same pixels."""
    return f"""
WITH p AS (
  SELECT doc_id, {dims}
  FROM documents
)
SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST({bpp} AS INT) AS bpp, {_pixel_sums(chan)}, {_pixel_sums(chan, True)}
FROM p
"""


def _mm_rgb(c: str, x: str, y: str) -> str:
    """``_mm_pixel``'s channels as SQL."""
    a, by, bx = {"r": (7, 31, 13), "g": (11, 17, 5), "b": (3, 7, 19)}[c]
    return f"(doc_id * {a} + ({y}) * {by} + ({x}) * {bx}) % 256"


def _palette(index: str, c: str) -> str:
    """Channel ``c`` of palette entry ``index`` in the palette rows
    (``((i*37+11)%256, (i*59+23)%256, (i*83+47)%256)``)."""
    mul, add = {"r": (37, 11), "g": (59, 23), "b": (83, 47)}[c]
    return f"(({index}) * {mul} + {add}) % 256"


def _block_luma(seed: str, by: int, bx: int) -> _Chan:
    """Flat 8×8 blocks of luma ``(seed + by·(y//8) + bx·(x//8)) % 256``
    on all three channels (neutral chroma or grayscale: R = G = B)."""
    return lambda c, x, y: f"({seed} + (({y}) // 8) * {by} + (({x}) // 8) * {bx}) % 256"


_MM_IMAGE_DIMS = "4 + (doc_id % 13) AS w, 4 + (length(text) % 11) AS h"
_MM_JPEG_DIMS = "8 * (1 + doc_id % 3) AS w, 8 * (1 + length(text) % 2) AS h"
# every 4th JPEG document is single-component grayscale
_MM_JPEG_BPP = "CASE WHEN doc_id % 4 = 0 THEN 8 ELSE 24 END"


def _run_available_now(stream_df, base: str) -> str:
    """Run a streaming relation to completion under availableNow into a
    parquet sink; returns the sink path. Raises if the query does not
    finish inside the timeout (awaitTermination returns False rather
    than raising — falling through would hand the caller a partially
    written sink and a baffling hash mismatch). The sink, source and
    checkpoint stay in ``base`` (the row's scratch directory): the
    returned relation reads the sink lazily."""
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(600):
            raise TimeoutError(
                "availableNow streaming query did not finish within 600 s"
            )
    finally:
        if q.isActive:
            q.stop()
    return out


def _replay(
    spark: SparkSession, base: str, schema: str, *batches: DataFrame
) -> DataFrame:
    """A file stream of ``schema`` that replays ``batches`` in order, one
    micro-batch each: batch i is staged as file i of the source dir
    ``base/src`` (the source tracks filenames, so each batch has a fresh
    one). The schema is explicit because the fixtures' ``ts`` would
    otherwise read back as ``timestamp_ntz``.

    FileStreamSource orders files by MODIFICATION TIME with undefined
    tie-breaking, and shutil.move preserves the part file's mtime — two
    files staged within the same ms could be consumed out of order,
    which silently breaks order-sensitive replays (the CDC fold, the
    sessionize sentinel). File i's mtime is therefore stamped from i,
    so batch order is total and deterministic."""
    src = os.path.join(base, "src")
    os.makedirs(src)
    for i, df in enumerate(batches):
        tmp = os.path.join(base, f"tmp{i}")
        df.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{i:02d}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        t = 1_700_000_000 + 60 * i
        os.utime(dst, (t, t))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def q_sessionize_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 driver-checkable: the STREAMING sessionizer
    (streaming/sessionize_stream.py, applyInPandasWithState + event-time
    timeouts) run to completion with an ``availableNow`` trigger into
    parquet, then hashed against a batch DuckDB oracle — closing the one
    operator family that previously had only pytest parity (VERDICT r3
    #5).

    Replay shape: the events table is staged as file 1 of a file-stream
    source; file 2 holds one far-future sentinel event per user
    (max_ts + gap + margin), which data-closes every user's final open
    session so the emitted closed-session stream equals the batch
    sessionization of the real events. The sentinel sessions themselves
    stay open at end-of-input and are never emitted, and the watermark
    (max_ts_sentinel − 1s) never reaches sentinel_end + gap, so no
    timeout fires for them either. Integer cents measures keep the sums
    order-insensitive (exact parity with SQL aggregation)."""
    from slowfast_feature_extractor_spark.streaming.sessionize_stream import (
        streaming_sessionize,
    )

    ev = _ev(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("user_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value_cents").cast("double").alias("value"),
    )
    base = _scratch("sessionize_streamed")
    max_ts = ev.agg(F.max("ts")).first()[0]  # driver scalar (metadata-scale)
    sentinel = (
        ev.select("user_id")
        .distinct()
        .withColumn("ts", F.lit(max_ts) + F.expr("INTERVAL 2 HOURS"))
        .withColumn("value", F.lit(0.0))
    )
    stream = _replay(
        spark, base, "user_id string, ts timestamp, value double", ev, sentinel
    )
    sess = streaming_sessionize(
        stream, entity="user_id", ts="ts", measure="value",
        gap_seconds=1800.0, watermark="1 second",
    )
    out = _run_available_now(sess, base)
    return spark.read.parquet(out).select(
        F.col("user_id").cast("long").alias("user_id"),
        "session_start",
        "session_end",
        F.col("n_revisits").cast("long").alias("n_revisits"),
        F.col("measure_sum").cast("long").alias("sum_cents"),
    )


ORACLE_SESSIONIZE_STREAMED = f"""
{_gap_sessions('>')}
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_revisits,
       COALESCE(CAST(SUM(value_cents) AS BIGINT), 0) AS sum_cents
FROM s GROUP BY user_id, session_idx
"""


def q_dedup_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 driver-checkable STREAMING exact dedup with BOUNDED state:
    the corpus is replayed as two file-stream micro-batches — the
    original crawl, then a full re-crawl 120 s later (every row a
    duplicate) — through ``dropDuplicatesWithinWatermark`` on the
    content hash. The watermark (10 min) covers the re-crawl delay, so
    the second batch is suppressed entirely and the emitted set equals
    the batch DISTINCT relation; unlike plain ``dropDuplicates``, state
    for hashes older than the watermark is evicted, which is what makes
    the operator runnable forever on a real crawl stream. Output is the
    (hash, n_chars) SET — deterministic whatever the arrival order.
    Reference analog: the skip-if-done resume predicate
    (reference/test_net.py:60-75) as a continuous stream."""
    d = _docs(spark, sf_dir).select(
        F.md5("text").alias("h"),
        F.length("text").cast("long").alias("n_chars"),
        (
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(secs=(F.col("doc_id") % 60).cast("double"))
        ).alias("ts"),
    )
    base = _scratch("dedup_streamed")
    stream = _replay(
        spark, base, "h string, n_chars long, ts timestamp",
        d, d.withColumn("ts", F.col("ts") + F.expr("INTERVAL 120 SECONDS")),
    )
    deduped = (
        stream.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["h"])
        .select("h", "n_chars")
    )
    out = _run_available_now(deduped, base)
    return spark.read.parquet(out).select("h", "n_chars")


ORACLE_DEDUP_STREAMED = """
SELECT DISTINCT md5(text) AS h, CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""


def _q_mm_png(
    spark: SparkSession, sf_dir: str, bitdepth: int, interlace_every: int
) -> DataFrame:
    """REAL truecolor PNG decode (stdlib PNG codec: zlib inflate + full
    scanline filter reconstruction, operators/multimodal.decode_png) +
    REAL nearest-neighbor resize, one builder for three registry rows:
    per document a PNG is synthesized with the SAME pixel formula as
    ``multimodal_image``'s BMPs but carried through the compressed
    container — per-row filters cycle through all five PNG filter types
    with a doc-dependent rotation, and every 4th document is RGBA
    (color type 6; alpha ignored by the channel sums). Documents with
    ``doc_id % interlace_every == 0`` are Adam7-interlaced (0 = none).

    - ``multimodal_png`` (8-bit, no interlace);
    - ``multimodal_png_adam7`` (8-bit, every document interlaced: seven
      independently filtered sub-images reassembled on the pass grid;
      the fixture sizes (4–16 × 4–14) make most documents hit EMPTY and
      single-pixel passes, the classic Adam7 edge cases);
    - ``multimodal_png16`` (16-bit channels, every 3rd document
      interlaced: big-endian sample pairs whose HIGH bytes follow the
      pixel formula and whose low bytes are deterministic junk a width-
      or endianness-confused decoder would surface; filter
      reconstruction at the doubled byte stride, MSB 16→8 reduction).

    All three share ``multimodal_image``'s oracle (decoded pixels are
    layout-independent; only the source bpp follows the bit depth), so
    an inflate, filter-reconstruction, RGBA-stride, pass-geometry,
    per-pass-stride, prior-reset, scatter, byte-order, reduction or
    resize-index bug breaks the hash. Reference decode analog:
    reference/datasets/videoset.py:66-95 (cv2 over compressed frames,
    Adam7 natively)."""

    def make(doc_id: int, tlen: int) -> bytes:
        rot = doc_id % 5
        return MM.synth_png(
            4 + doc_id % 13, 4 + tlen % 11, _mm_pixel(doc_id),
            filter_cycle=tuple((rot + i) % 5 for i in range(5)),
            rgba=(doc_id % 4 == 0),
            bitdepth=bitdepth,
            interlace=int(interlace_every > 0 and doc_id % interlace_every == 0),
        )

    img = _synth_media(spark, sf_dir, "image", make)
    return MM.image_meta(img, media_col="image", id_col="doc_id", resize_to=(8, 6))


q_multimodal_png = functools.partial(_q_mm_png, bitdepth=8, interlace_every=0)
q_multimodal_png_adam7 = functools.partial(_q_mm_png, bitdepth=8, interlace_every=1)
q_multimodal_png16 = functools.partial(_q_mm_png, bitdepth=16, interlace_every=3)


def _mm_png_oracle(channel_bits: int) -> str:
    """The truecolor PNG rows: ``multimodal_image``'s pixels, with every
    4th document RGBA at ``channel_bits`` per channel."""
    bpp = f"CASE WHEN doc_id % 4 = 0 THEN {4 * channel_bits} ELSE {3 * channel_bits} END"
    return _image_oracle(_MM_IMAGE_DIMS, bpp, _mm_rgb)


def q_charset_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset detection + transcoding over binary HTTP bodies, fully
    JVM-side (functions/extraction.detect_charset / decode_charset: BOM
    sniff on binary slices, Spark 4 is_valid_utf8, JVM decode — zero
    Python on the hot path, whole-stage codegen): per document a payload
    is synthesized IN SPARK by encoding the text as one of five wire
    formats (UTF-8, BOM'd UTF-8, BOM'd UTF-16LE/BE, and Latin-1 — the
    ASCII projection of the text plus two invalid-UTF-8 high bytes), and
    the engine must label the charset from the BYTES alone and transcode
    back. The oracle knows the class analytically from doc_id and the
    round-trip law decoded == text (Latin-1: stripped text + 'éè'), so a
    BOM-sniff, validity, slice, or codec bug breaks the hash. The
    crawl-ingest step every real web corpus needs before text ops
    (reference analog: the reference assumes pre-decoded inputs;
    reference/datasets/videoset.py:21-36 sidesteps charsets entirely)."""
    from slowfast_feature_extractor_spark.functions.extraction import (
        decode_charset,
        detect_charset,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    stripped = F.regexp_replace(F.col("text"), r"[^\x20-\x7E]", "")
    cls = F.col("doc_id") % 5
    payload = (
        F.when(cls == 0, F.encode(F.col("text"), "UTF-8"))
        .when(cls == 1, F.concat(F.lit(b"\xef\xbb\xbf"), F.encode(F.col("text"), "UTF-8")))
        .when(cls == 2, F.concat(F.lit(b"\xff\xfe"), F.encode(F.col("text"), "UTF-16LE")))
        .when(cls == 3, F.concat(F.lit(b"\xfe\xff"), F.encode(F.col("text"), "UTF-16BE")))
        .otherwise(F.concat(F.encode(stripped, "UTF-8"), F.lit(b"\xe9\xe8")))
    )
    p = d.select("doc_id", payload.alias("payload"))
    cs = detect_charset(F.col("payload"))
    return p.select(
        "doc_id",
        cs.alias("charset"),
        decode_charset(F.col("payload"), cs).alias("decoded"),
    )


ORACLE_CHARSET_DETECT = """
WITH p AS (
  SELECT doc_id, text,
         regexp_replace(text, '[^\\x20-\\x7E]', '', 'g') AS stripped,
         doc_id % 5 AS cls
  FROM documents
)
SELECT doc_id,
       CASE cls WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8-bom'
                WHEN 2 THEN 'utf-16le' WHEN 3 THEN 'utf-16be'
                ELSE 'iso-8859-1' END AS charset,
       CASE WHEN cls <= 3 THEN text ELSE stripped || 'éè' END AS decoded
FROM p
"""


def q_multimodal_png_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL indexed-color PNG decode (operators/multimodal.decode_png:
    PLTE palette lookup + MSB-first sub-byte sample unpacking at bit
    depths 1/2/4/8 — the icon/screenshot format class the truecolor
    row can't reach): per document a palette PNG is synthesized whose
    bit depth cycles 1→2→4→8 with the document id, with per-row filters
    cycling through all five PNG filter types over the PACKED bytes
    (stride-1 filter lanes — a different reconstruction geometry than
    the truecolor row's per-channel lanes). The engine decodes,
    resizes (nearest), and channel-sums; the oracle recomputes index →
    palette → sums analytically, so a bit-unpack, palette-lookup,
    packed-byte filter, or resize bug breaks the hash. Reference
    decode analog: reference/datasets/videoset.py:66-95."""
    import numpy as np

    def make(doc_id: int, tlen: int) -> bytes:
        w, h = 3 + doc_id % 14, 3 + tlen % 13
        bd = (1, 2, 4, 8)[doc_id % 4]
        pal = [
            ((i * 37 + 11) % 256, (i * 59 + 23) % 256, (i * 83 + 47) % 256)
            for i in range(1 << bd)
        ]
        y, x = np.mgrid[0:h, 0:w]
        grid = (doc_id * 7 + y * 31 + x * 13) % (1 << bd)
        rot = doc_id % 5
        cycle = tuple((rot + i) % 5 for i in range(5))
        return MM.synth_png_indexed(grid, pal, bitdepth=bd, filter_cycle=cycle)

    img = _synth_media(spark, sf_dir, "image", make)
    return MM.image_meta(img, media_col="image", id_col="doc_id", resize_to=(8, 6))


ORACLE_MM_PNG_PALETTE = _image_oracle(
    """3 + doc_id % 14 AS w, 3 + length(text) % 13 AS h,
         CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS bd,
         CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 16 ELSE 256 END AS m""",
    "bd",
    # index(x, y) = (doc_id*7 + y*31 + x*13) % 2^bd
    lambda c, x, y: _palette(f"(doc_id * 7 + ({y}) * 31 + ({x}) * 13) % m", c),
)


# block-luma constants (doc_id, by, bx) of the sequential and the
# progressive JPEG rows
_MM_JPEG_LUMA = {False: (7, 31, 13), True: (11, 29, 17)}


def _q_mm_jpeg(spark: SparkSession, sf_dir: str, progressive: bool) -> DataFrame:
    """REAL DCT-compressed-image decode (stdlib JPEG codec: marker walk,
    canonical Huffman entropy decode, dequantize, exact float64 IDCT,
    JFIF color convert — operators/multimodal.decode_jpeg) + REAL
    nearest-neighbor resize, one builder for two registry rows: per
    document a JPEG of flat 8x8 blocks is synthesized (block luma from a
    doc-dependent formula, neutral chroma so the color convert is
    bit-exact; every 4th document takes the single-component grayscale
    scan path) and pushed through the same decode → resize → channel-sum
    chain as the BMP/PNG rows.

    - ``multimodal_jpeg`` (baseline): every 5th-remainder-3 color
      document is encoded NON-interleaved — one full-band scan per
      component, the T.81 layout the r4 decoder refused;
    - ``multimodal_jpeg_prog`` (SOF2: spectral selection + successive
      approximation — the dominant encoding in real web crawls): the
      4-phase scan script (DC first Al=1, DC refinement, per-component
      AC first + AC refinement with EOB-run coding), two-thirds of the
      documents carrying DRI restart intervals (interval doc_id%3 ∈
      {1,2}; the remaining third has none).

    The oracle recomputes the sums analytically from the block formula
    — decoded values are encoding-independent, so the same SQL covers
    every scan layout — and a Huffman, dezigzag, dequant, IDCT,
    scan-coverage, scan-script, EOB-run, refinement-bit, restart-reset,
    color-convert or resize bug breaks the hash. Reference decode
    analog: reference/datasets/videoset.py:66-95 (cv2 over compressed
    frames, progressive transparently)."""
    a, ky, kx = _MM_JPEG_LUMA[progressive]

    def make(doc_id: int, tlen: int) -> bytes:
        def bf(bx, by):
            return ((doc_id * a + by * ky + bx * kx) % 256, 128, 128)

        w, h, gray = 8 * (1 + doc_id % 3), 8 * (1 + tlen % 2), doc_id % 4 == 0
        if progressive:
            return MM.synth_jpeg_progressive(
                w, h, bf, gray=gray, restart_interval=doc_id % 3  # 0 = none, 1, 2
            )
        return MM.synth_jpeg(w, h, bf, gray=gray, interleaved=(doc_id % 5 != 3))

    img = _synth_media(spark, sf_dir, "image", make)
    return MM.image_meta(img, media_col="image", id_col="doc_id", resize_to=(8, 6))


q_multimodal_jpeg = functools.partial(_q_mm_jpeg, progressive=False)
q_multimodal_jpeg_prog = functools.partial(_q_mm_jpeg, progressive=True)


def _mm_jpeg_oracle(progressive: bool) -> str:
    a, ky, kx = _MM_JPEG_LUMA[progressive]
    return _image_oracle(_MM_JPEG_DIMS, _MM_JPEG_BPP, _block_luma(f"doc_id * {a}", ky, kx))


def q_multimodal_jpeg_420(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chroma-subsampled JPEG decode — 4:2:0 (the dominant encoding of
    real web images) plus 4:2:2 (every 3rd document): per document a
    baseline JPEG is synthesized with an MCU-interleaved subsampled
    entropy stream (synth_jpeg_subsampled — 4 Y blocks + 1 Cb + 1 Cr
    per 16x16 MCU for 4:2:0), luma flat per 8x8 block and chroma flat
    per chroma TILE (16x16 px for 4:2:0, 16x8 for 4:2:2; values in
    {108,128,148} so the JFIF color convert never lands on an exact
    .5 and DuckDB's floor(v+0.5) replays numpy's rint bit-exactly),
    every 3rd-remainder-1 document carrying DRI restart intervals —
    then decoded through the generalized MCU scan walk + replication
    chroma upsampling (operators/multimodal.decode_jpeg) → resize →
    exact integer channel sums. The oracle recomputes Y/Cb/Cr per
    pixel from the tile formulas and replays the color convert, so an
    MCU-walk, per-component-geometry, upsampling, predictor-reset or
    color-convert bug breaks the hash. Reference decode analog:
    reference/datasets/videoset.py:66-95 (cv2 decodes 4:2:0
    natively; so does this engine now — VERDICT r5 item #1)."""

    def make(doc_id: int, tlen: int) -> bytes:
        def yb(bx, by):
            return (doc_id * 19 + by * 23 + bx * 29) % 256

        def cbf(cx, cy):
            return (
                108 + 20 * ((doc_id + cx + cy) % 3),
                108 + 20 * ((doc_id * 2 + cx * 3 + cy) % 3),
            )

        return MM.synth_jpeg_subsampled(
            16 * (1 + doc_id % 2), 16 * (1 + tlen % 2), yb, cbf,
            sampling="422" if doc_id % 3 == 0 else "420",
            restart_interval=2 if doc_id % 3 == 1 else 0,
        )

    img = _synth_media(spark, sf_dir, "image", make)
    return MM.image_meta(img, media_col="image", id_col="doc_id", resize_to=(8, 6))


def _mm_jpeg_420_chan(c: str, xe: str, ye: str) -> str:
    # pixel(x, y): Y from the 8x8 block formula; Cb/Cr from the chroma
    # tile formula (tile = 16 x cth px, cth = 8 for the 4:2:2 docs,
    # 16 for 4:2:0); JFIF color convert replayed as floor(v + 0.5)
    # (== numpy rint here: chroma offsets ±20 keep every fractional
    # part off .5), clipped to 0..255. Mirrors the decoder's float64
    # op order (one multiply, one/two adds) so IEEE results match.
    yv = f"({_block_luma('doc_id * 19', 23, 29)(c, xe, ye)})"
    cx, cy = f"(({xe}) // 16)", f"(({ye}) // cth)"
    cb = f"(108 + 20 * ((doc_id + {cx} + {cy}) % 3))"
    cr = f"(108 + 20 * ((doc_id * 2 + {cx} * 3 + {cy}) % 3))"
    if c == "r":
        v = f"{yv} + 1.402 * ({cr} - 128)"
    elif c == "g":
        v = f"{yv} - 0.344136 * ({cb} - 128) - 0.714136 * ({cr} - 128)"
    else:
        v = f"{yv} + 1.772 * ({cb} - 128)"
    return f"least(255, greatest(0, CAST(floor(({v}) + 0.5) AS BIGINT)))"


ORACLE_MM_JPEG_420 = _image_oracle(
    """16 * (1 + doc_id % 2) AS w,
         16 * (1 + length(text) % 2) AS h,
         CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS cth""",
    "24",
    _mm_jpeg_420_chan,
)


def q_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode, stdlib-only — S2 made literal (the reference's
    primary input modality, reference/datasets/videoset.py:72-103): per
    document an MJPEG-in-AVI container is synthesized (2..8 frames,
    each frame a baseline JPEG of flat 8x8 blocks whose luma depends on
    doc AND frame index; every 4th document grayscale), then the engine
    parses the RIFF/AVI container (operators/multimodal.decode_avi),
    dual-rate samples frames (fast = 4 strided, slow = 1 — the SlowFast
    discipline, reference/test_net.py:62-74), and JPEG-decodes ONLY the
    sampled frames (decode_jpeg) into exact integer channel sums. The
    oracle recomputes container geometry, stride sampling, and pixel
    sums analytically — a container-parse, frame-seek, Huffman, IDCT or
    color-convert bug breaks the hash."""

    def make(doc_id: int, tlen: int) -> bytes:
        w, h = 8 * (1 + doc_id % 3), 8 * (1 + tlen % 2)

        def frame(fi: int) -> bytes:
            def bf(bx, by):
                return ((doc_id * 7 + fi * 17 + by * 31 + bx * 13) % 256, 128, 128)

            return MM.synth_jpeg(w, h, bf, gray=(doc_id % 4 == 0))

        return MM.synth_avi([frame(fi) for fi in range(2 + doc_id % 7)], w, h, fps=10)

    vid = _synth_media(spark, sf_dir, "video", make)
    return MM.video_features(vid, media_col="video", id_col="doc_id",
                             num_frames=4, alpha=4)


def _mm_video_oracle() -> str:
    sums = _pixel_sums(_block_luma("doc_id * 7 + src_frame * 17", 31, 13))
    return f"""
WITH p AS (
  SELECT doc_id, {_MM_JPEG_DIMS},
         2 + doc_id % 7 AS n
  FROM documents
), pw AS (
  SELECT * FROM (VALUES ('fast', 4), ('slow', 1)) AS t(pathway, k)
), js AS (SELECT unnest(range(0, 4)) AS j),
fr AS (
  SELECT doc_id, w, h, n, pathway, CAST(js.j AS INT) AS frame_idx,
         GREATEST(1, n // k) AS stride,
         LEAST(k, (n + GREATEST(1, n // k) - 1) // GREATEST(1, n // k)) AS m
  FROM p CROSS JOIN pw CROSS JOIN js
  WHERE js.j < pw.k
)
SELECT doc_id, pathway, frame_idx, src_frame,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST({_MM_JPEG_BPP} AS INT) AS bpp,
       {sums}
FROM (SELECT *, CAST(stride * LEAST(frame_idx, m - 1) AS INT) AS src_frame FROM fr)
"""


def q_multimodal_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF decode, stdlib-only (the last first-class web
    image container: operators/multimodal.decode_gif — LZW entropy
    decode with variable code width, CLEAR handling and the KwKwK case,
    palette lookup, 4-pass interlace reordering, frame composition):
    per document an animated GIF of 1..4 full frames is synthesized
    over a 64-color palette whose entries AND per-pixel indices follow
    doc/frame-dependent formulas; every 3rd document is interlaced (an
    encoding-only change — the oracle is layout-blind, so a botched
    deinterlace breaks the hash). The engine decodes every frame
    (gif_features) into exact integer channel sums; the oracle
    recomputes index → palette → sums analytically. Reference decode
    analog: reference/datasets/videoset.py:66-95 (cv2 over compressed
    frames); multi-frame extraction is the reference's video-frame
    discipline on a different container."""
    import numpy as np

    pal = [
        ((i * 37 + 11) % 256, (i * 59 + 23) % 256, (i * 83 + 47) % 256)
        for i in range(64)
    ]

    def make(doc_id: int, tlen: int) -> bytes:
        n = 1 + doc_id % 4
        y, x = np.mgrid[0:3 + tlen % 12, 0:3 + doc_id % 14]
        frames = [(doc_id * 7 + fi * 29 + y * 31 + x * 13) % 64 for fi in range(n)]
        return MM.synth_gif(frames, pal, delays=[4] * n, interlace=(doc_id % 3 == 0))

    img = _synth_media(spark, sf_dir, "gif", make)
    return MM.gif_features(img, media_col="gif", id_col="doc_id")


def _mm_gif_oracle() -> str:
    # pixel index(x, y, f) = (doc_id*7 + f*29 + y*31 + x*13) % 64
    sums = _pixel_sums(lambda c, x, y: _palette(
        f"(doc_id * 7 + frame_idx * 29 + ({y}) * 31 + ({x}) * 13) % 64", c))
    return f"""
WITH p AS (
  SELECT doc_id, 3 + doc_id % 14 AS w, 3 + length(text) % 12 AS h,
         1 + doc_id % 4 AS n
  FROM documents
), f AS (
  SELECT doc_id, w, h, n, CAST(unnest(range(0, n)) AS INT) AS frame_idx FROM p
)
SELECT doc_id, frame_idx, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(n AS INT) AS n_frames, {sums}
FROM f
"""


def q_manifest_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 CSV manifest round-trip (the reference builds its work list
    from a CSV of clip paths, reference/datasets/videoset.py:21-36 +
    camera_assignments.csv): a manifest is WRITTEN as real CSV from the
    documents table — including a field with embedded commas and quotes
    that forces quoting/escaping — then READ BACK with
    ``spark.read.csv`` and aggregated per shard. The oracle computes the
    same aggregates from the source table directly, so any CSV
    serialization or parse defect breaks the hash."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("s3://corpus/shard="), (F.col("doc_id") % 16).cast("string"),
            F.lit("/doc-"), F.col("doc_id").cast("string"), F.lit(".html"),
        ).alias("path"),
        F.length("text").cast("long").alias("n_chars"),
        F.concat(
            F.lit("doc,"), F.col("doc_id").cast("string"), F.lit(',"note"')
        ).alias("note"),
    )
    # per-process scratch dir: a world-shared fixed path raced between
    # concurrent runs over the same sf_dir (one overwrites mid-read of
    # the other, corrupting the hash) and failed outright when a
    # pre-existing directory belonged to another user (ADVICE r3)
    mdir = _scratch("manifest_scan")
    d.coalesce(1).write.mode("overwrite").option("header", True).csv(mdir)
    m = (
        spark.read.schema("doc_id long, path string, n_chars long, note string")
        .option("header", True)
        .csv(mdir)
    )
    return (
        m.withColumn(
            "shard", F.regexp_extract("path", r"shard=(\d+)", 1).cast("int")
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.sum(F.length("note")).alias("note_chars"),
        )
    )


ORACLE_MANIFEST_SCAN = """
SELECT CAST(doc_id % 16 AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_doc,
       CAST(sum(length(concat('doc,', CAST(doc_id AS VARCHAR), ',"note"')))
            AS BIGINT) AS note_chars
FROM documents GROUP BY doc_id % 16
"""


def q_sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL API surface (Catalyst plans SQL and DataFrame identically):
    TPC-H-Q1-shaped pricing summary with exact cents arithmetic."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "v_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sum_qty_c,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sum_price_c,
               round(avg(CAST(round(l_discount * 100) AS BIGINT)), 6) AS avg_disc_c,
               count(*) AS n
        FROM v_lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )


ORACLE_SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
       round(avg(CAST(round(l_discount * 100) AS BIGINT)), 6) AS avg_disc_c,
       count(*) AS n
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_time_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/W3 rangeBetween form: trailing 1-hour (fine) and 24-hour
    (coarse) time-interval windows per user, strictly-earlier seconds.
    Second-granularity integer epoch ordering makes the frame identical
    across engines."""
    ev = _ev(spark, sf_dir).withColumn(
        "ts_s", (epoch_us(F.col("ts")) / 1_000_000).cast("long")
    )
    fine = (
        Window.partitionBy("user_id").orderBy("ts_s").rangeBetween(-3600, -1)
    )
    coarse = (
        Window.partitionBy("user_id").orderBy("ts_s").rangeBetween(-86400, -1)
    )
    return ev.select(
        "user_id", "ts", "event_id",
        F.count("value_cents").over(fine).alias("cnt_1h"),
        F.sum("value_cents").over(fine).alias("sum_1h"),
        F.count("value_cents").over(coarse).alias("cnt_24h"),
        F.sum("value_cents").over(coarse).alias("sum_24h"),
    )


ORACLE_TIME_RANGE_WINDOW = f"""
WITH ev AS (
  SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
  FROM ({_EV_CENTS_SQL})
)
SELECT user_id, ts, event_id,
  count(value_cents) OVER w1 AS cnt_1h,
  sum(value_cents) OVER w1 AS sum_1h,
  count(value_cents) OVER w2 AS cnt_24h,
  sum(value_cents) OVER w2 AS sum_24h
FROM ev
WINDOW
  w1 AS (PARTITION BY user_id ORDER BY ts_s RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING),
  w2 AS (PARTITION BY user_id ORDER BY ts_s RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING)
"""


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (shuffle dedup): exact distinct users and
    days per event type."""
    ev = _ev(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.to_date("ts")).alias("n_days"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_DISTINCT_COUNTS = """
SELECT event_type, count(DISTINCT user_id) AS n_users,
       count(DISTINCT CAST(ts AS DATE)) AS n_days, count(*) AS n_events
FROM events GROUP BY event_type
"""


def q_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 formalized: pending work = orders anti-joined against the
    committed set (the reference's skip-if-output-exists,
    reference/test_net.py:381-385)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    committed = o.filter(F.col("o_orderkey") % 10 < 3).select("o_orderkey")
    return o.join(committed, "o_orderkey", "left_anti").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


ORACLE_ANTI_JOIN_RESUME = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM orders d WHERE d.o_orderkey % 10 < 3 AND d.o_orderkey = o.o_orderkey
)
"""


def q_pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A7-style pivot: per user-bucket, summed cents per event type
    as columns."""
    ev = _ev(spark, sf_dir).withColumn("user_bucket", F.col("user_id") % 10)
    return (
        ev.groupBy("user_bucket")
        .pivot("event_type", ["click", "view", "scroll", "purchase", "error"])
        .sum("value_cents")
    )


ORACLE_PIVOT_EVENT_VALUES = f"""
WITH ev AS ({_EV_CENTS_SQL})
SELECT user_id % 10 AS user_bucket,
  CAST(sum(CASE WHEN event_type = 'click' THEN value_cents END) AS BIGINT) AS click,
  CAST(sum(CASE WHEN event_type = 'view' THEN value_cents END) AS BIGINT) AS view,
  CAST(sum(CASE WHEN event_type = 'scroll' THEN value_cents END) AS BIGINT) AS scroll,
  CAST(sum(CASE WHEN event_type = 'purchase' THEN value_cents END) AS BIGINT) AS purchase,
  CAST(sum(CASE WHEN event_type = 'error' THEN value_cents END) AS BIGINT) AS error
FROM ev GROUP BY user_id % 10
"""


def q_json_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11/K3 analog: assemble the export blob per row as a JSON string
    (built with deterministic string ops so any engine reproduces it
    byte-for-byte)."""
    ev = _ev(spark, sf_dir)
    return ev.select(
        "event_id",
        F.format_string(
            '{"user":%d,"type":"%s","cents":%d}',
            F.col("user_id"),
            F.col("event_type"),
            F.col("value_cents"),
        ).alias("blob"),
    )


ORACLE_JSON_EXPORT = f"""
WITH ev AS ({_EV_CENTS_SQL})
SELECT event_id,
  concat('{{"user":', CAST(user_id AS VARCHAR), ',"type":"', event_type,
         '","cents":', CAST(value_cents AS VARCHAR), '}}') AS blob
FROM ev
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-rate frame sampling plumbing over opaque media bytes
    (reference's stride sampling, test_net.py:62-74; codec stubbed)."""
    d = _docs(spark, sf_dir).withColumn("media", F.encode(F.col("text"), "utf-8"))
    return MM.frame_sample(d, media_col="media", id_col="doc_id",
                           frame_bytes=64, num_frames=8, alpha=4)


# stride sampling reproduced in pure SQL over the HEX encoding (2 hex
# chars per byte, so 64-byte frames = 128-char hex slices — byte-accurate
# for any content, not char-sliced): frames of 64 bytes; stride =
# max(1, nf div k); picked = frames[::stride][:k]; pad-repeat-last.
ORACLE_MULTIMODAL_FRAMES = """
WITH p AS (SELECT * FROM (VALUES ('fast', 8), ('slow', 2)) AS t(pathway, k)),
j AS (SELECT unnest(range(0, 8)) AS frame_idx),
base AS (
  SELECT doc_id, hex(encode(text)) AS h,
         CASE WHEN octet_length(encode(text)) = 0 THEN 1
              ELSE CAST(ceil(octet_length(encode(text)) / 64.0) AS INT) END AS nf
  FROM documents
),
s AS (
  SELECT b.doc_id, b.h, b.nf, p.pathway, p.k, j.frame_idx,
         greatest(1, b.nf // p.k) AS stride
  FROM base b CROSS JOIN p CROSS JOIN j
  WHERE j.frame_idx < p.k
),
idx AS (
  SELECT *, least(frame_idx,
                  least(k, CAST(ceil(nf * 1.0 / stride) AS INT)) - 1) AS pick
  FROM s
)
SELECT doc_id, pathway, CAST(frame_idx AS INT) AS frame_idx,
       md5(substr(h, pick * stride * 128 + 1, 128)) AS frame_md5
FROM idx
"""


# --------------------------------------------- web-corpus pipeline (r4)

def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-pipeline P6/P7 analog (key parse → canonical key construct,
    reference/datasets/videoset.py:40-55): synthesize a deterministic
    messy URL per document and canonicalize it map-side — lowercase
    scheme/host, strip www./default ports/trailing slash/fragment, drop
    tracking params, bytewise-sort the rest. Zero shuffle; scales with
    input splits at any cluster size."""
    d = _docs(spark, sf_dir)
    d = d.select(
        "doc_id", UT.synth_url(F.col("doc_id"), F.col("source")).alias("url")
    )
    host = UT.canon_host(F.col("url"))
    return d.select(
        "doc_id",
        "url",
        UT.canonicalize_url(F.col("url")).alias("canon_url"),
        host.alias("host"),
        UT.registered_domain(host).alias("domain"),
    )


_SYNTH_URL_SQL = """
  (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'https' END)
  || '://'
  || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' || upper(source) || '.Example.COM'
           ELSE source || '.example.com' END)
  || (CASE WHEN doc_id % 5 = 0
           THEN (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE ':443' END)
           ELSE '' END)
  || '/Archive/' || CAST(doc_id AS VARCHAR)
  || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
  || (CASE WHEN doc_id % 7 = 0 THEN ''
           WHEN doc_id % 2 = 0
           THEN '?utm_source=feed&id=' || CAST(doc_id % 97 AS VARCHAR) || '&ref=rss'
           ELSE '?id=' || CAST(doc_id % 97 AS VARCHAR) || '&utm_campaign=crawl' END)
  || (CASE WHEN doc_id % 3 = 1 THEN '#sec' ELSE '' END)
"""

# single source of truth: the oracle's tracking filter is generated
# from the same prefix list the engine's Column predicate uses
_TRACK_SQL = " AND ".join(
    f"NOT starts_with(x, '{p}')" for p in UT.TRACKING_PREFIXES
)

ORACLE_URL_CANONICALIZE = f"""
WITH u AS (
  SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents
), p AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) AS hostport,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1) AS rest
  FROM u
), q AS (
  SELECT doc_id, url, scheme,
         regexp_replace(lower(regexp_extract(hostport, '^([^:]+)', 1)),
                        '^www\\.', '') AS host,
         regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
         regexp_extract(rest, '^([^?]*)', 1) AS path,
         coalesce(array_to_string(list_sort(list_filter(
             string_split(regexp_extract(rest, '\\?(.*)$', 1), '&'),
             x -> x <> '' AND {_TRACK_SQL})), '&'), '') AS cq
  FROM p
)
SELECT doc_id, url,
       scheme || '://' || host
       || (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                     OR (scheme = 'https' AND port = '443')
                THEN '' ELSE ':' || port END)
       || (CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
                ELSE regexp_replace(path, '/+$', '') END)
       || (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS canon_url,
       host,
       regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain
FROM q
"""


def q_dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical TF-IDF cosine near-dup pairs (cos ≥ 0.9) — the
    third similarity geometry next to shingle Jaccard and dense
    embedding cosine: catches rewordings that shuffle n-grams but keep
    the vocabulary. Same inverted-index candidate shape as
    dedup_jaccard; EXACT integer weights with DECIMAL(38,0)/HUGEINT
    accumulation so no float summation order can flip the rounded
    boundary (operators/similarity.tfidf_cosine_pairs)."""
    d = _docs(spark, sf_dir)
    toks = F.filter(TS.tokens(F.col("text")), lambda x: x.rlike("^[a-z]+$"))
    return SIM.tfidf_cosine_pairs(d, toks, threshold=0.9)


ORACLE_DEDUP_TFIDF_COSINE = """
WITH toks AS (
  SELECT doc_id AS id, unnest(list_filter(string_split(text, ' '),
    x -> x <> '' AND regexp_matches(x, '^[a-z]+$'))) AS term
  FROM documents
),
tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term),
dfs AS (
  SELECT term, count(*) AS df_t FROM tf GROUP BY term
  HAVING count(*) <= 1000
),
w AS (
  SELECT id, term,
         CAST(tf * ((1000000 * (SELECT count(*) FROM documents)) // df_t)
              AS HUGEINT) AS w
  FROM tf JOIN dfs USING (term)
),
norms AS (SELECT id, sum(w * w) AS n2 FROM w GROUP BY id),
cross_ AS (
  SELECT a.id AS id_a, b.id AS id_b, sum(a.w * b.w) AS dot
  FROM w a JOIN w b USING (term) WHERE a.id < b.id
  GROUP BY a.id, b.id
),
scored AS (
  SELECT id_a, id_b,
         round(CAST(dot AS DOUBLE)
               / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
               6) AS cosine
  FROM cross_ JOIN norms na ON cross_.id_a = na.id
              JOIN norms nb ON cross_.id_b = nb.id
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.9
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch interval (range) join via bucketed equi-join
    (``operators/asof_join.interval_join``): each purchase opens a 2 h
    attribution window; every same-user event inside the window is
    attributed to it. A bare ``BETWEEN`` join predicate plans as
    BroadcastNestedLoopJoin — |W|×|E| comparisons and a broadcast of a
    whole side, the classic non-equi scale ceiling; here windows
    explode into the ≤3 hour-buckets they span, events map to exactly
    one bucket, and the join is a shuffled sort-merge equi-join on
    (user, bucket) with the exact BETWEEN as residual — each pair meets
    exactly once, so the aggregate needs no dedup. The batch twin of
    ``stream_join``."""
    from slowfast_feature_extractor_spark.operators.asof_join import interval_join

    ev = _ev(spark, sf_dir)
    wins = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("win_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", "value_cents"
    )
    j = interval_join(
        wins, clicks, ["user_id"], "w_start", "w_end", "ts", bucket_seconds=3600
    )
    return j.groupBy("win_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("sum_cents"),
    )


ORACLE_INTERVAL_JOIN = f"""
WITH ev AS ({_EV_CENTS_SQL}),
w AS (
  SELECT user_id, event_id AS win_id, ts AS w_start,
         ts + INTERVAL 2 HOUR AS w_end
  FROM ev WHERE event_type = 'purchase'
),
e AS (
  SELECT user_id, ts, value_cents FROM ev WHERE event_type <> 'purchase'
)
SELECT w.win_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(e.value_cents) AS BIGINT) AS sum_cents
FROM w JOIN e ON w.user_id = e.user_id
             AND e.ts >= w.w_start AND e.ts <= w.w_end
GROUP BY w.win_id
"""


def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup — the FIRST dedup stage of a crawl pipeline,
    upstream of any content hashing: messy URL variants (case-shifted
    hosts, default ports, trailing slashes, fragments, tracking params,
    param order) collapse to one canonical key, keep-min + copy count.
    The synth embeds ``doc_id % 50`` so recrawl-style variants of the
    same logical page actually collide (groups up to 5 at sf0.01).
    Canonicalization is zero-shuffle map work; the groupBy is map-side
    combined on the canonical key — at 10^12 fetch records this
    typically removes 20-40% of the volume before any text is even
    decoded, which is why it runs first."""
    d = _docs(spark, sf_dir)
    url = UT.synth_url(F.col("doc_id") % 50, F.col("source"))
    return (
        d.select("doc_id", UT.canonicalize_url(url).alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _dedup_url_oracle() -> str:
    synth = _SYNTH_URL_SQL.replace("doc_id", "(doc_id % 50)")
    canon = ORACLE_URL_CANONICALIZE.replace(_SYNTH_URL_SQL, synth)
    return f"""
WITH c AS ({canon})
SELECT canon_url, min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM c GROUP BY canon_url
"""


def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage removal across the corpus (Lee et al.
    2022 / RefinedWeb line-dedup at fixed 8-token granularity): only the
    first corpus occurrence of each full 8-token segment survives;
    documents are reassembled from their kept segments. Complements
    dedup_exact (whole-doc) and dedup_minhash_lsh (near-dup): this is
    the operator that strips boilerplate passages repeated across
    otherwise-distinct pages. Reference analog: the reference dedups at
    whole-clip granularity only (datasets/videoset.py builds one row per
    clip); passage-level is the corpus-scale extension."""
    return DD.dedup_passages(_docs(spark, sf_dir), k=8)


ORACLE_DEDUP_PASSAGES = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), segs AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ') AS seg,
         (i + 1) * 8 <= len(toks) AS is_full
  FROM (SELECT doc_id, toks,
               unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS i
        FROM t)
), ranked AS (
  SELECT doc_id, seg_idx,
         row_number() OVER (
           PARTITION BY CAST(('0x' || substr(md5(seg), 1, 15)) AS BIGINT)
           ORDER BY doc_id, seg_idx) AS rn
  FROM segs WHERE is_full
), dec AS (
  SELECT s.doc_id, s.seg_idx, s.seg,
         CASE WHEN s.is_full THEN r.rn = 1 ELSE TRUE END AS keep
  FROM segs s LEFT JOIN ranked r
    ON s.doc_id = r.doc_id AND s.seg_idx = r.seg_idx
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_idx),
                '') AS clean_text
FROM dec GROUP BY doc_id
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style intra-document repetition signals: duplicate-word
    fraction, top-word fraction, top-bigram fraction. Two explode →
    two-level groupBy pipelines (word and bigram) joined per doc — the
    classic map-side-combinable shape (partial counts per split, one
    shuffle on (doc_id, token)); no Python, no windows."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    t = d.select("doc_id", toks.alias("toks"))
    w = t.select("doc_id", F.explode("toks").alias("w"))
    wc = w.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    per_w = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("mx"),
    )
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    b = t.select("doc_id", F.explode(bigrams).alias("b"))
    bc = b.groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    per_b = bc.groupBy("doc_id").agg(
        F.sum("c").alias("btot"), F.max("c").alias("bmx")
    )
    # fractions reported in exact parts-per-million via INTEGER floor
    # division: round(j/n, 6) on a genuinely inexact double can differ
    # between Spark (BigDecimal HALF_UP on the binary value) and the
    # oracle on boundary ties like 1/640 = 0.0015625 (ADVICE r4);
    # j*1000000 div n is bit-identical in every engine
    return (
        per_w.join(per_b, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "n_distinct",
            F.expr(
                "CAST((n_words - n_distinct) * 1000000 DIV n_words AS BIGINT)"
            ).alias("dup_word_ppm"),
            F.expr("CAST(mx * 1000000 DIV n_words AS BIGINT)").alias("top_word_ppm"),
            F.coalesce(
                F.expr("CAST(bmx * 1000000 DIV btot AS BIGINT)"), F.lit(0).cast("long")
            ).alias("top_bigram_ppm"),
        )
    )


ORACLE_DOC_REPETITION = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), wc AS (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY doc_id, w
), per_w AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_distinct, max(c) AS mx
  FROM wc GROUP BY doc_id
), bc AS (
  SELECT doc_id, b, count(*) AS c
  FROM (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
             THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
             ELSE [] END) AS b FROM t)
  GROUP BY doc_id, b
), per_b AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS btot, max(c) AS bmx
  FROM bc GROUP BY doc_id
)
SELECT w.doc_id, w.n_words, w.n_distinct,
       CAST((w.n_words - w.n_distinct) * 1000000 // w.n_words AS BIGINT) AS dup_word_ppm,
       CAST(w.mx * 1000000 // w.n_words AS BIGINT) AS top_word_ppm,
       CAST(coalesce(b.bmx * 1000000 // b.btot, 0) AS BIGINT) AS top_bigram_ppm
FROM per_w w LEFT JOIN per_b b ON w.doc_id = b.doc_id
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test split by content-independent
    key hash (the standard leakage-safe corpus split: bucket =
    md5(doc key) % 100 → 90/5/5), aggregated per (split, lang). Pure
    map-side hash + one partial-aggregated groupBy — at 10^12 rows this
    is a scan plus a tiny shuffle of (split × lang) partials."""
    d = _docs(spark, sf_dir)
    bucket = (
        DD.md5i64(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    )
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("validation"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars_total"))
    )


ORACLE_HASH_SPLIT = """
WITH b AS (
  SELECT CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 100 AS bk,
         lang, n_chars
  FROM documents
)
SELECT CASE WHEN bk < 90 THEN 'train'
            WHEN bk < 95 THEN 'validation'
            ELSE 'test' END AS split,
       lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars_total
FROM b GROUP BY 1, 2
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: top-16 docs per source stratum
    ordered by key hash (reproducible across runs/engines, unlike
    rand()-based sampleBy). The rank<=16 filter over a partitioned
    row_number hits Spark's WindowGroupLimit rewrite — each map task
    keeps only its local top-16 per group before the shuffle, so the
    exchanged volume is O(strata × 16), not O(rows)."""
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 16)
    )


ORACLE_STRATIFIED_SAMPLE = """
SELECT doc_id, source, lang, rk FROM (
  SELECT doc_id, source, lang,
         CAST(row_number() OVER (
             PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
  FROM documents)
WHERE rk <= 16
"""


_SHUF_KEY_SQL = (
    "CAST(('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
)


def _shuf_key() -> F.Column:
    return DD.md5i64(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle for training export: every
    doc gets a content-independent hash key, a shard (key mod 64), and
    its position within the shard — the standard pre-training
    randomization, reproducible across runs and engines (no rand()).
    Each shard ranks independently (window partitioned on shard), so at
    10^12 rows this is one hash-partitioned shuffle into 64-way
    parallel sorts — no global total order ever materializes on one
    task."""
    d = _docs(spark, sf_dir)
    key = _shuf_key()
    w = Window.partitionBy("shard").orderBy("shuf_key", "doc_id")
    return (
        d.select(
            "doc_id", key.alias("shuf_key"), (key % 64).cast("int").alias("shard")
        )
        .withColumn("pos", F.row_number().over(w).cast("int"))
    )


ORACLE_CORPUS_SHUFFLE = f"""
WITH k AS (
  SELECT doc_id, {_SHUF_KEY_SQL} AS shuf_key FROM documents
)
SELECT doc_id, shuf_key, CAST(shuf_key % 64 AS INT) AS shard,
       CAST(row_number() OVER (
           PARTITION BY shuf_key % 64
           ORDER BY shuf_key, doc_id) AS INT) AS pos
FROM k
"""


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate the shuffled corpus and
    chunk it into fixed 512-token training sequences — each doc reports
    the sequence span it lands in and its token offset. The global
    running total is computed SCALABLY as a two-level prefix sum: a
    per-shard window cumsum (64-way parallel) plus a broadcast of the
    64 shard prefix offsets — no single-partition global window, the
    pattern that survives 10^12 rows. Canonical pack order is
    shard-major: (shard, shuf_key, doc_id)."""
    budget = 512
    d = _docs(spark, sf_dir)
    key = _shuf_key()
    t = d.select(
        "doc_id",
        TS.token_count(F.col("text")).cast("long").alias("n_tokens"),
        key.alias("shuf_key"),
        (key % 64).cast("int").alias("shard"),
    )
    # materialize the join key's not-null filter BEFORE branching: the
    # probe side of the broadcast join gets isnotnull(shard) pushed to
    # its scan, and without the same filter on the totals branch the two
    # exchange subtrees don't canonicalize equal — this line is what
    # lets ReuseExchange collapse them into ONE corpus scan
    t = t.filter(F.col("shard").isNotNull())
    w = (
        Window.partitionBy("shard")
        .orderBy("shuf_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = t.withColumn("cum_in", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    # shard totals derived FROM the windowed frame (last cum + own
    # tokens), not from a fresh aggregation of the source: both branches
    # then share the hashpartitioning(shard) exchange and Catalyst's
    # ReuseExchange collapses them — the corpus is scanned ONCE, which
    # is the difference between 1x and 2x IO at 10^12 rows
    totals = t.groupBy("shard").agg(
        F.max(F.col("cum_in") + F.col("n_tokens")).alias("tot")
    )
    wo = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    offsets = totals.select(
        "shard", (F.sum("tot").over(wo) - F.col("tot")).alias("shard_off")
    )
    t = t.join(F.broadcast(offsets), "shard")
    cum = F.col("shard_off") + F.col("cum_in")
    return t.select(
        "doc_id",
        "n_tokens",
        F.expr(f"(shard_off + cum_in) div {budget}").alias("seq_start"),
        F.greatest(
            F.expr(f"(shard_off + cum_in) div {budget}"),
            F.expr(f"(shard_off + cum_in + n_tokens - 1) div {budget}"),
        ).alias("seq_end"),
        (cum % budget).alias("offset_in_seq"),
    )


ORACLE_SEQUENCE_PACK = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
             AS n_tokens,
         {_SHUF_KEY_SQL} AS shuf_key
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (
             ORDER BY shuf_key % 64, shuf_key, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         - n_tokens AS cum_before
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(cum_before // 512 AS BIGINT) AS seq_start,
       CAST(greatest(cum_before // 512,
                     (cum_before + n_tokens - 1) // 512) AS BIGINT) AS seq_end,
       CAST(cum_before % 512 AS BIGINT) AS offset_in_seq
FROM c
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the deterministic corpus split:
    flag every TRAIN document sharing at least one hashed word-trigram
    with any TEST document (the GPT-3/Pile-style n-gram overlap
    check), reporting how many of its distinct trigrams collide.
    Shingles are hashed + deduplicated map-side inside the per-doc
    array (no shuffle of shingle text); the test-side shingle set is
    ~5% of the corpus, so Catalyst/AQE broadcasts it under the
    threshold and the train side never reshuffles at all — at 10^12
    rows the same plan degrades gracefully to a sort-merge join on the
    int64 shingle key. The split predicate is pushed below the explode
    on each branch, so the shingle hashing runs on 90%+5% of documents
    (not 2× the corpus); a production run over a persisted shingle
    table drops that to one pass."""
    d = _docs(spark, sf_dir)
    bucket = (
        DD.md5i64(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    )
    # bucket inlined next to the shingle explode (same map task) — no
    # second scan / id-join just to attach the split label
    hashed = F.array_distinct(
        F.transform(TS.shingles(F.col("text"), 3), DD.md5i64)
    )
    sh = d.select(
        F.col("doc_id").alias("id"), bucket.alias("bk"), F.explode(hashed).alias("shingle")
    )
    train = sh.filter(F.col("bk") < 90).select("id", "shingle")
    test = sh.filter(F.col("bk") >= 95).select("shingle").distinct()
    return (
        train.join(test, "shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(F.col("id").alias("doc_id"), "n_shared")
    )


ORACLE_DECONTAMINATE = f"""
WITH s AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 100 AS bk,
         unnest(list_distinct(list_transform(range(1, len(toks) - 1),
             i -> {_md5i64_sql("concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])")}
         ))) AS shingle
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents)
), tr AS (
  SELECT doc_id, shingle FROM s WHERE bk < 90
), te AS (
  SELECT DISTINCT shingle FROM s WHERE bk >= 95
)
SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM tr JOIN te USING (shingle)
GROUP BY tr.doc_id
"""


def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style LINE-level cleaning (Raffel et al. 2020 §2.2 rules, the
    complement of doc-level ``gopher_filter``): documents are rendered
    into lines (deterministic newline every 5 words — both engines run
    the identical regex), then each line is kept only if it ends in
    terminal punctuation, has ≥4 words, and contains no brace /
     'lorem ipsum' / 'javascript' marker; a document survives with ≥3
    kept lines. Entirely JVM higher-order array expressions (split →
    filter → aggregate), zero Python, zero shuffle — the cheap
    map-only pass that runs before anything shuffle-bearing at 100 TB.
    Emits per-doc line accounting + md5 of the cleaned text so the
    oracle catches any rule-boundary divergence."""
    d = _docs(spark, sf_dir)
    raw = F.split(
        F.regexp_replace(F.col("text"), r"((?:\S+ ){4}\S+) ", "$1\n"), "\n"
    )
    sfx = F.array(*[F.lit(s) for s in _C4_SUFFIXES])
    # deterministic per-line endings cycling through every rule class
    # (terminal punct / none / brace / lorem / javascript) — the corpus
    # text itself is punctuation-free, so the rules must be planted.
    # `lines` and `keep` sit behind projection aliases (NOTES #12):
    # inlined, the regexp+split render re-ran once per OUTPUT COLUMN
    # (4x regexp_replace / 7x split in the measured plan)
    lines = F.transform(
        raw, lambda ln, i: F.concat(ln, F.element_at(sfx, (i % 8) + 1))
    )
    words = lambda ln: F.size(F.filter(F.split(ln, " "), lambda w: w != ""))  # noqa: E731
    t = d.select("doc_id", lines.alias("lines"))
    keep = F.filter(
        F.col("lines"),
        lambda ln: (
            ln.rlike("[.!?\"']$")
            & (words(ln) >= 4)
            & ~F.contains(ln, F.lit("{"))
            & ~F.contains(F.lower(ln), F.lit("lorem ipsum"))
            & ~F.contains(F.lower(ln), F.lit("javascript"))
        ),
    )
    t = t.select("doc_id", F.size("lines").alias("nl"), keep.alias("keep"))
    return t.select(
        "doc_id",
        F.col("nl").cast("int").alias("n_lines"),
        F.size("keep").cast("int").alias("n_kept"),
        (F.size("keep") >= 3).alias("doc_kept"),
        F.md5(F.array_join(F.col("keep"), "\n")).alias("cleaned_md5"),
    )


# one suffix per rule class; Spark indexes the cycle 0-based, DuckDB
# 1-based — both resolve to the same suffix per line position
_C4_SUFFIXES = [
    ".",                   # kept (if >=4 words)
    "",                    # dropped: no terminal punctuation
    " {config}.",          # dropped: brace
    "!",                   # kept
    " Lorem Ipsum filler.",  # dropped: lorem ipsum
    "?",                   # kept
    " enable JavaScript.",   # dropped: javascript
    ' quoted."',           # kept
]

_C4_SFX_SQL = "[" + ", ".join("'" + s.replace("'", "''") + "'" for s in _C4_SUFFIXES) + "]"

ORACLE_C4_FILTER = rf"""
WITH t AS (
  SELECT doc_id,
         list_transform(
             string_split(regexp_replace(text, '((?:\S+ ){{4}}\S+) ',
                                         '\1' || chr(10), 'g'), chr(10)),
             (ln, i) -> ln || ({_C4_SFX_SQL})[(i - 1) % 8 + 1]) AS lines
  FROM documents
), k AS (
  SELECT doc_id, lines,
         list_filter(lines, ln ->
             regexp_matches(ln, '[.!?"'']$')
             AND len(list_filter(string_split(ln, ' '), w -> w <> '')) >= 4
             AND NOT contains(ln, '{{')
             AND NOT contains(lower(ln), 'lorem ipsum')
             AND NOT contains(lower(ln), 'javascript')) AS keep
  FROM t
)
SELECT doc_id,
       CAST(len(lines) AS INT) AS n_lines,
       CAST(len(keep) AS INT) AS n_kept,
       len(keep) >= 3 AS doc_kept,
       md5(coalesce(list_aggregate(keep, 'string_agg', chr(10)), '')) AS cleaned_md5
FROM k
"""


_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting — the number every corpus decision
    (mixing weights, dedup thresholds, epoch sizing) is denominated
    in: whitespace tokens AND a GPT-2-shaped byte-level pre-tokenizer
    regex (contractions, letter runs, digit runs, punctuation runs,
    whitespace runs — the lookahead-free subset both Java regex and
    RE2 implement identically) counted per document, plus bytes per
    BPE token (the compression-ratio quality signal). Map-only JVM
    ``regexp_count``, whole-stage codegen, zero shuffle. Reference
    analog: frame-count accounting before sampling
    (reference/datasets/videoset.py num_frames)."""
    d = _docs(spark, sf_dir)
    # the fixture corpus is punctuation-free — plant contractions,
    # digit runs, and punctuation so the two tokenizers actually
    # diverge (same literal in the oracle)
    t = F.concat(F.col("text"), F.lit(_BPE_TAIL), F.col("doc_id").cast("string"))
    n_ws = F.size(F.filter(F.split(t, " "), lambda w: w != ""))
    n_bpe = F.regexp_count(t, F.lit(_BPE_RE))
    return d.select(
        "doc_id",
        n_ws.cast("long").alias("n_ws_tokens"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        F.when(
            n_bpe > 0, F.octet_length(t).cast("double") / n_bpe
        ).otherwise(F.lit(0.0)).alias("bytes_per_token"),
    )


_BPE_TAIL = " it's v2.0 (beta), we're 100% ready -- don't wait... #"

_BPE_RE_SQL = _BPE_RE.replace("'", "''")
_BPE_TAIL_SQL = _BPE_TAIL.replace("'", "''")

ORACLE_TOKEN_COUNT = f"""
WITH t AS (
  SELECT doc_id,
         text || '{_BPE_TAIL_SQL}' || CAST(doc_id AS VARCHAR) AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(string_split(t, ' '), w -> w <> '')) AS BIGINT)
           AS n_ws_tokens,
       CAST(len(regexp_extract_all(t, '{_BPE_RE_SQL}')) AS BIGINT) AS n_bpe_tokens,
       CASE WHEN len(regexp_extract_all(t, '{_BPE_RE_SQL}')) > 0
            THEN CAST(octet_length(encode(t)) AS DOUBLE)
                 / len(regexp_extract_all(t, '{_BPE_RE_SQL}'))
            ELSE 0.0 END AS bytes_per_token
FROM t
"""


def q_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped LM quality filter (Wenzek et al. 2020): a bigram LM
    with stupid backoff (Brants et al. 2007, alpha=0.4) is fit on a
    deterministic REFERENCE slice (doc_id % 10 < 3 plays Wikipedia) and
    scores EVERY document — train/apply split, unlike the
    self-scoring ``lm_unigram_score``. Per bigram instance:
    seen bigram -> log10(c2/c1(w1)); else seen w2 -> log10(.4) +
    log10(c1(w2)/N); else the count-1 OOV floor log10(.4/N).
    Scale shape: all three scoring joins key on md5-int64 hashes (the
    minhash key discipline — no string keys on any shuffle); the Zipf
    head of the unigram model is the classic skew join (AQE skew-split
    handles it, prune counts < k at corpus scale); the bigram model is
    sort-merge-sized, the unigram model broadcastable once vocab-bounded.
    Output (doc_id, n_bigrams, avg_logp) — rank/threshold on avg_logp
    (CCNet's head/middle/tail split is a quantile cut over this column,
    i.e. ``value_percentiles`` composed downstream). Same round(.,6)
    log-sum boundary caveat as lm_unigram_score."""
    d = _docs(spark, sf_dir)
    base = d.select(
        "doc_id",
        TS.tokens(F.col("text")).alias("toks"),
        ((F.col("doc_id") % 10) < 3).alias("is_train"),
    ).filter(F.size("toks") >= 2)
    inst = base.select(
        "doc_id",
        "is_train",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1),"
                " (x, i) -> struct(x AS w1, toks[i + 1] AS w2))"
            )
        ).alias("bg"),
    ).select(
        "doc_id",
        "is_train",
        DD.md5i64(
            F.concat(F.col("bg.w1"), F.lit(" "), F.col("bg.w2"))
        ).alias("hb"),
        DD.md5i64(F.col("bg.w1")).alias("h1"),
        DD.md5i64(F.col("bg.w2")).alias("h2"),
    )
    # NOTE (r7, measured then REVERTED): persists here do not pay.
    # An inst persist loses (the fit branch's is_train filter pushes
    # below the md5 projection, so its recompute hashes only the 30%
    # train slice — cheaper than caching the full 3-hash stream), and
    # a vocab-row uni persist measured within noise across interleaved
    # A/B rounds (the same verdict as lm_unigram_score's model): the
    # extra cache/broadcast job costs about one fused corpus pass.
    uni = (
        base.filter("is_train")
        .select(F.explode("toks").alias("w"))
        .select(DD.md5i64(F.col("w")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = uni.agg(F.sum("cnt").cast("long").alias("tot"))
    big = (
        inst.filter("is_train")
        .groupBy("hb")
        .agg(F.count(F.lit(1)).alias("cnt2"))
    )
    ctx = uni.select(F.col("h").alias("h1"), F.col("cnt").alias("cnt_c"))
    w2m = uni.select(F.col("h").alias("h2"), F.col("cnt").alias("cnt_u"))
    # a seen bigram implies a seen context word, so cnt_c is never null
    # on the first branch
    logp = (
        F.when(
            F.col("cnt2").isNotNull(),
            F.log10("cnt2") - F.log10("cnt_c"),
        )
        .when(
            F.col("cnt_u").isNotNull(),
            F.log10(F.lit(0.4)) + F.log10("cnt_u") - F.log10("tot"),
        )
        .otherwise(F.log10(F.lit(0.4)) - F.log10("tot"))
    )
    return (
        inst.join(big, "hb", "left")
        .join(ctx, "h1", "left")
        .join(w2m, "h2", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum(logp) / F.count(F.lit(1)), 6).alias("avg_logp"),
        )
    )


ORACLE_LM_BIGRAM_SCORE = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks,
         (doc_id % 10) < 3 AS is_train
  FROM documents
), b2 AS (
  SELECT * FROM base WHERE len(toks) >= 2
), inst AS (
  SELECT doc_id, is_train,
         {_md5i64_sql("concat(toks[i], ' ', toks[i + 1])")} AS hb,
         {_md5i64_sql("toks[i]")} AS h1,
         {_md5i64_sql("toks[i + 1]")} AS h2
  FROM b2, unnest(range(1, len(toks))) AS t(i)
), tr AS (
  SELECT unnest(toks) AS w FROM b2 WHERE is_train
), uni AS (
  SELECT {_md5i64_sql("w")} AS h, count(*) AS cnt FROM tr GROUP BY 1
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM uni
), big AS (
  SELECT hb, count(*) AS cnt2 FROM inst WHERE is_train GROUP BY hb
), s AS (
  SELECT i.doc_id,
         CASE WHEN b.cnt2 IS NOT NULL THEN log(b.cnt2) - log(c.cnt)
              WHEN u.cnt IS NOT NULL
                THEN log(0.4) + log(u.cnt) - log(tot.tot)
              ELSE log(0.4) - log(tot.tot) END AS logp
  FROM inst i
  LEFT JOIN big b USING (hb)
  LEFT JOIN uni c ON c.h = i.h1
  LEFT JOIN uni u ON u.h = i.h2
  CROSS JOIN tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(sum(logp) / count(*), 6) AS avg_logp
FROM s GROUP BY doc_id
"""


_QC_BUCKETS = 4096


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped quality-classifier INFERENCE (Joulin et al.
    2017 — the GPT-3/LLaMA/RedPajama "pages that look like references"
    filter): hashed unigram+bigram bag-of-words, mean of per-feature
    weights, sigmoid, threshold. The trained model is a (bucket ->
    weight) table — here synthesized deterministically from the bucket
    hash so both engines agree without a training step; in production
    the identical plan scores with a learned table. Scale shape: the
    model is at most ``_QC_BUCKETS`` rows -> broadcast join (fastText
    hashes into 2M buckets — still broadcastable), so the only
    doc-side shuffle is the groupBy(doc_id) mean; features reuse the
    DSIR md5-int64 bucket discipline. Output keeps score (rounded
    pre-sigmoid mean), prob (sigmoid), and the boolean keep decision.
    Same round(.,6) float-sum boundary caveat as the other scoring
    rows."""
    B = _QC_BUCKETS
    d = _docs(spark, sf_dir)
    base = d.select("doc_id", TS.tokens(F.col("text")).alias("toks"))
    grams = base.select(
        "doc_id",
        F.explode(
            F.concat(
                F.col("toks"),
                F.expr(
                    "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                    " (x, i) -> concat(x, ' ', toks[i + 1]))"
                ),
            )
        ).alias("g"),
    ).select("doc_id", (DD.md5i64(F.col("g")) % B).alias("bucket"))
    w = spark.range(B).select(
        F.col("id").alias("bucket"),
        (
            (
                DD.md5i64(F.concat(F.lit("qcw:"), F.col("id").cast("string")))
                % 2000001
            )
            / F.lit(1000000.0)
            - 1.0
        ).alias("wgt"),
    )
    per = (
        grams.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_feats"), F.sum("wgt").alias("sw"))
    )
    s = F.col("sw") / F.col("n_feats")
    return per.select(
        "doc_id",
        F.col("n_feats").cast("long").alias("n_feats"),
        F.round(s, 6).alias("score"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.round(s, 6)))).alias("_p"),
        (F.round(s, 6) > 0).alias("keep"),
    ).select(
        "doc_id",
        "n_feats",
        "score",
        F.round(F.col("_p"), 6).alias("prob"),
        "keep",
    )


ORACLE_QUALITY_CLASSIFIER = f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_concat(toks,
           list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1]))) AS g
  FROM base
), f AS (
  SELECT doc_id, {_md5i64_sql("g")} % {_QC_BUCKETS} AS bucket FROM g
), w AS (
  SELECT bucket,
         ({_md5i64_sql("concat('qcw:', CAST(bucket AS VARCHAR))")} % 2000001)
           / 1000000.0 - 1.0 AS wgt
  FROM (SELECT unnest(range(0, {_QC_BUCKETS})) AS bucket)
), s AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats, sum(wgt) AS sw
  FROM f JOIN w USING (bucket) GROUP BY doc_id
)
SELECT doc_id, n_feats,
       round(sw / n_feats, 6) AS score,
       round(1.0 / (1.0 + exp(-round(sw / n_feats, 6))), 6) AS prob,
       round(sw / n_feats, 6) > 0 AS keep
FROM s
"""


def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution by pointer doubling
    (``operators/graph.py``): a deterministic synthetic redirect map
    over the documents table (doc_id % 16 == 0 is canonical, everyone
    else 301s to doc_id - 1 -> chains up to 15 hops) is resolved to
    final destination + exact hop count in ceil(log2(16)) = 4
    int64-keyed self-join rounds — O(log L) shuffles vs the O(L)
    naive follow loop, each round's shuffle exactly |nodes| rows and
    localCheckpoint-materialized so lineage stays linear (a lazy
    self-join tree doubles per round). The crawl-ops consumer:
    dedup/index on final_id, feed hops back into ``crawl_schedule``
    politeness. Oracle replays the same map with a recursive CTE and
    takes the max-hop row per source."""
    from slowfast_feature_extractor_spark.operators.graph import (
        resolve_pointers,
    )

    d = _docs(spark, sf_dir).select("doc_id")
    m = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 16 == 0, F.col("doc_id"))
        .otherwise(F.col("doc_id") - 1)
        .alias("nxt"),
    )
    r = resolve_pointers(m, id_col="doc_id", nxt_col="nxt", rounds=4)
    return r.select(
        "doc_id",
        F.col("final").alias("final_id"),
        F.col("hops").cast("int").alias("hops"),
    )


ORACLE_REDIRECT_RESOLVE = """
WITH RECURSIVE m AS (
  SELECT doc_id AS id,
         CASE WHEN doc_id % 16 = 0 THEN doc_id ELSE doc_id - 1 END AS nxt
  FROM documents
), r AS (
  SELECT id AS src, nxt AS cur,
         CASE WHEN nxt = id THEN 0 ELSE 1 END AS hops
  FROM m
  UNION ALL
  SELECT r.src, m.nxt, r.hops + 1
  FROM r JOIN m ON m.id = r.cur
  WHERE m.nxt <> m.id
)
SELECT src AS doc_id, cur AS final_id, CAST(hops AS INT) AS hops
FROM r
QUALIFY row_number() OVER (PARTITION BY src ORDER BY hops DESC) = 1
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the corpus (Robertson-Sparck Jones;
    Lucene's k1=1.2, b=0.75, idf = ln(1 + (N-df+.5)/(df+.5)) variant):
    the query workload is the 20 highest-df terms (deterministic df
    desc / term asc order), each scored against every containing doc,
    top-5 docs per term kept. The relational decomposition a search
    stack runs at scale: one corpus tokenize -> tf table groupBy
    (doc, term) with map-side partials; df + the query pick reuse that
    aggregate (no second corpus scan); the 20-term query table
    broadcasts, so the only doc-keyed work after tf is the per-term
    top-k window (WindowGroupLimit pushes the rank-5 cut map-side, the
    ``topk_per_group`` plan shape). Ranking compares ROUNDED scores
    with doc_id tie-break, so cross-engine double noise below 1e-6
    cannot flip an order. Scale: tf/df are the standard Zipf-skewed
    aggregates (AQE skew handles the head); the query side of a real
    engine is always broadcast-sized."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(TS.tokens(F.col("text"))).alias("term")
    )
    # NOTE (r7, measured): tf/dl multi-consumption re-runs the corpus
    # tokenize up to 4x, but persisting tf (1.3M-row cache write) and
    # deriving dl from it measured NEUTRAL in interleaved A/B at the
    # sf1.0 proxy (2.15-2.80 vs 2.28-2.41 s) — bare split+explode
    # recompute is cheaper than the cache, the same verdict as the
    # lm token-stream persist. Left unpersisted.
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("tot_len"),
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = F.broadcast(
        df_t.orderBy(F.col("df").desc(), F.col("term").asc()).limit(20)
    )
    scored = (
        tf.join(qterms, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2
                    * (
                        0.25
                        + 0.75
                        * F.col("dl")
                        * F.col("n_docs")
                        / F.col("tot_len")
                    )
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("term", F.col("rank").cast("int").alias("rank"),
                "doc_id", "score")
    )


ORACLE_BM25_TOPK = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS tot_len
  FROM dl
), df_t AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), q AS (
  SELECT term, df FROM df_t ORDER BY df DESC, term ASC LIMIT 20
), scored AS (
  SELECT q.term, tf.doc_id,
         round(ln(1.0 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * s.n_docs
                                 / s.tot_len)), 6) AS score
  FROM tf JOIN q USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
)
SELECT term, CAST(rank AS INT) AS rank, doc_id, score
FROM (SELECT term, doc_id, score,
             row_number() OVER (PARTITION BY term
                                ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored)
WHERE rank <= 5
"""


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture accounting + reweighting (the DoReMi /
    data-mixing bookkeeping step): per (source, lang) document and
    token counts, the group's EXACT token share in ppm (integer
    arithmetic — no double crosses the hash), and the uniform-target
    sampling weight ``target/actual`` scaled to ppm (how much to over-
    or under-sample each domain so the training mix is uniform across
    observed domains). One map-side-combinable groupBy over a map-only
    tokenize — the whole job is a single shuffle whose key domain is
    |sources| x |langs| (tiny), then a broadcast of the 1-row totals.
    At 100 TB this is the nightly mix report feeding the sampler;
    swapping the uniform target for a learned one changes only the
    broadcast literal."""
    d = _docs(spark, sf_dir)
    g = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(TS.token_count(F.col("text"))).cast("long").alias("n_tokens"),
    )
    tot = g.agg(
        F.sum("n_tokens").cast("long").alias("tot_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            # `div` = exact int64 division (DuckDB `//` twin); `/` on
            # longs is DOUBLE division and can land off-by-one
            F.expr("n_tokens * 1000000 div tot_tokens")
            .cast("long")
            .alias("share_ppm"),
            # weight = (tot/n_groups) / n_tokens, in ppm, floor-divided
            # in int64 (n_tokens * n_groups fits: ppm-scaled corpus)
            F.expr("tot_tokens * 1000000 div (n_tokens * n_groups)")
            .cast("long")
            .alias("weight_ppm"),
        )
    )


ORACLE_MIXTURE_WEIGHTS = """
WITH g AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source, lang
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
         CAST(count(*) AS BIGINT) AS n_groups
  FROM g
)
SELECT source, lang, n_docs, n_tokens,
       CAST(n_tokens * 1000000 // tot_tokens AS BIGINT) AS share_ppm,
       CAST(tot_tokens * 1000000 // (n_tokens * n_groups) AS BIGINT)
           AS weight_ppm
FROM g, tot
"""


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup canonicalization end-to-end — the "keep one
    representative per duplicate cluster" policy every corpus build
    ends with: MinHash+LSH verified pairs (``dedup_minhash_lsh``'s
    operator) → large-star/small-star connected components
    (``dedup_clusters_star``'s operator, O(log n) rounds) → per-cluster
    representative by longest text (n_chars desc, doc_id tie-break).
    Singletons (docs in no near-dup pair) are their own canonical via
    the left join + coalesce, so the output covers EVERY doc with its
    cluster id and keep decision. Scale: the pair/cluster stages are
    the bucketed sub-quadratic paths already proven; the final pick is
    a per-cluster WindowGroupLimit-shaped rank over mostly-singleton
    partitions."""
    d = _docs(spark, sf_dir)
    pairs = DD.minhash_lsh_dedup(
        d, num_hashes=_N_MINHASH, bands=_N_BANDS, threshold=0.2
    )
    clusters = DD.dedup_clusters_star(pairs)
    base = d.select("doc_id", "n_chars")
    j = base.join(clusters, base["doc_id"] == clusters["id"], "left").select(
        "doc_id",
        "n_chars",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return j.select(
        "doc_id",
        "cluster_id",
        "n_chars",
        (F.row_number().over(w) == 1).alias("kept"),
    )


def _dedup_canonical_oracle() -> str:
    return f"""
WITH RECURSIVE p AS ({ORACLE_DEDUP_MINHASH}),
ed AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
reach(node, r) AS (
  SELECT DISTINCT a, a FROM ed
  UNION
  SELECT ed.b, reach.r FROM reach JOIN ed ON ed.a = reach.node
),
cl AS (SELECT node AS id, min(r) AS cluster_id FROM reach GROUP BY node),
full_t AS (
  SELECT d.doc_id, d.n_chars,
         COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cl ON cl.id = d.doc_id
)
SELECT doc_id, cluster_id, n_chars,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY n_chars DESC, doc_id ASC) = 1 AS kept
FROM full_t
"""


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (Church & Hanks 1990) — the phrase/vocab
    discovery pass tokenizer builds run over a corpus: bigram count
    c12, unigram counts c1/c2, pmi = log10(c12*N / (c1*c2)) over
    bigrams with support >= 5, global top-20 by (rounded) PMI with
    full lexical tie-break. Counts are exact integers; c12*N stays in
    int64 (both ~tokens, product ~1e12 at sf0.1); only the final log
    crosses a double, rounded to 6 before ranking. The global top-20
    is orderBy+limit -> TakeOrdered (per-partition top-k, no single-
    partition window). Joins key on the word strings — vocab-bounded
    analysis tables, not the corpus-sized int64-key discipline paths."""
    d = _docs(spark, sf_dir)
    base = d.select(TS.tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = base.select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1),"
                " (x, i) -> struct(x AS w1, toks[i + 1] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("long").alias("n_tok"))
    out = (
        c12.filter(F.col("c12") >= 5)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            F.round(
                F.log10(F.col("c12") * F.col("n_tok"))
                - F.log10(F.col("c1") * F.col("c2")),
                6,
            ).alias("pmi"),
        )
    )
    return out.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(20)


ORACLE_COLLOCATIONS = """
WITH base AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), b2 AS (SELECT toks FROM base WHERE len(toks) >= 2),
bg AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM b2, unnest(range(1, len(toks))) AS t(i)
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
), uni AS (
  SELECT unnest(toks) AS w FROM b2
), u AS (
  SELECT w, count(*) AS c FROM uni GROUP BY w
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM u
)
SELECT c12.w1, c12.w2, CAST(c12.c12 AS BIGINT) AS c12,
       round(log(c12.c12 * tot.n_tok) - log(u1.c * u2.c), 6) AS pmi
FROM c12
JOIN u u1 ON u1.w = c12.w1
JOIN u u2 ON u2.w = c12.w2
CROSS JOIN tot
WHERE c12.c12 >= 5
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT 20
"""


def q_boilerplate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerpipe-style main-content extraction by link density
    (Kohlschütter et al. 2010 — what trafilatura/jusText do before any
    quality scoring): documents are rendered into <div> blocks of 10
    tokens (every 3rd block is nav-shaped: every token a link; content
    blocks link only their first token — both engines render the same
    markup), then each block is kept iff 3·n_links < n_words (exact
    integers), tags stripped, and the doc's surviving content hashed.
    Entirely JVM split/regexp/array expressions — map-only, zero
    shuffle, the pass that runs fused with the WARC scan at 100 TB.
    Oracle renders + filters the same blocks in DuckDB and compares
    block accounting plus md5 of the extracted text."""
    d = _docs(spark, sf_dir)
    toks = TS.tokens(F.col("text"))
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 1)
    nb = F.expr("cast(ceil(size(toks) / 10.0) as int)")
    html = F.array_join(
        F.expr(
            """
            transform(sequence(0, cast(ceil(size(toks) / 10.0) as int) - 1),
              b -> concat('<div>',
                array_join(
                  transform(slice(toks, b * 10 + 1, 10),
                    (t, i) -> CASE
                      WHEN b % 3 = 0 OR i = 0
                        THEN concat('<a href="/u">', t, '</a>')
                      ELSE t END),
                  ' '),
                '</div>'))
            """
        ),
        "",
    )
    # layered projection aliases (NOTES #12): each derived array is a
    # real column before the next layer references it — inlined, the
    # render+split chain re-ran per derived column (8x regexp_replace /
    # 13x split in the measured plan)
    blocks = F.filter(F.split(html, "<div>"), lambda b: b != F.lit(""))
    t = base.select("doc_id", nb.alias("n_blocks"), blocks.alias("blocks"))
    stripped = F.transform(
        F.col("blocks"),
        lambda b: F.trim(
            F.regexp_replace(F.regexp_replace(b, "<[^>]*>", " "), " +", " ")
        ),
    )
    n_links = F.transform(
        F.col("blocks"), lambda b: F.size(F.split(b, "<a href", -1)) - 1
    )
    t = t.select(
        "doc_id", "n_blocks", stripped.alias("stripped"), n_links.alias("nl")
    )
    n_words = F.transform(
        F.col("stripped"),
        lambda s: F.size(F.filter(F.split(s, " "), lambda w: w != F.lit(""))),
    )
    kept = F.filter(
        F.zip_with(
            F.col("stripped"),
            F.zip_with(
                F.col("nl"), n_words,
                lambda l, w: F.struct(l.alias("l"), w.alias("w")),
            ),
            lambda s, lw: F.struct(
                s.alias("s"), lw["l"].alias("l"), lw["w"].alias("w")
            ),
        ),
        lambda r: r["l"] * 3 < r["w"],
    )
    t = t.select("doc_id", "n_blocks", kept.alias("kept"))
    return t.select(
        "doc_id",
        "n_blocks",
        F.size("kept").cast("int").alias("n_kept"),
        F.md5(
            F.array_join(F.transform("kept", lambda r: r["s"]), "\n")
        ).alias("content_md5"),
    )


ORACLE_BOILERPLATE_FILTER = """
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), b1 AS (SELECT doc_id, toks FROM base WHERE len(toks) >= 1),
r AS (
  SELECT doc_id,
         CAST(ceil(len(toks) / 10.0) AS INT) AS n_blocks,
         list_transform(range(0, CAST(ceil(len(toks) / 10.0) AS INT)),
           b -> '<div>' ||
                list_aggregate(
                  list_transform(toks[(b * 10 + 1):(b * 10 + 10)],
                    (t, i) -> CASE
                      WHEN b % 3 = 0 OR i = 1
                        THEN '<a href="/u">' || t || '</a>'
                      ELSE t END),
                  'string_agg', ' ') ||
                '</div>') AS blocks
  FROM b1
), s AS (
  SELECT doc_id, n_blocks,
         list_transform(blocks, b -> struct_pack(
           s := trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'),
                                    ' +', ' ', 'g')),
           l := len(regexp_extract_all(b, '<a href')))) AS parts
  FROM r
), k AS (
  SELECT doc_id, n_blocks,
         list_filter(parts, p ->
           p.l * 3 < len(list_filter(string_split(p.s, ' '),
                                     w -> w <> ''))) AS kept
  FROM s
)
SELECT doc_id, n_blocks, CAST(len(kept) AS INT) AS n_kept,
       md5(coalesce(list_aggregate(list_transform(kept, p -> p.s),
                                   'string_agg', chr(10)), '')) AS content_md5
FROM k
"""


def q_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL crawl-record ingestion (the Dolma / WET-derivative corpus
    interchange format): documents are WRITTEN as real newline-
    delimited JSON — text fields carry quotes/newlines-as-escapes the
    serializer must encode — plus planted CORRUPT lines (one per 50
    docs, truncated mid-record), then READ BACK with an explicit
    schema in PERMISSIVE mode: corrupt rows land in
    ``_corrupt_record`` instead of killing the scan (the only
    survivable posture on a 100 TB crawl where some shard always has
    a torn tail). Output: per-source doc counts + md5 of the
    round-tripped text + corrupt-line accounting. The oracle computes
    the same aggregates from the source table (corrupt count is
    analytic: doc_id % 50 == 0 rows were replaced), so any JSON
    serialize/parse defect breaks the hash."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.concat(F.col("text"), F.lit(' with "quoted" tail')).alias("text"),
    )
    line = F.when(
        F.col("doc_id") % 50 == 0,
        # torn record: valid JSON prefix, truncated mid-string
        F.concat(
            F.lit('{"doc_id": '),
            F.col("doc_id").cast("string"),
            F.lit(', "source": "tru'),
        ),
    ).otherwise(F.to_json(F.struct("doc_id", "source", "text")))
    jdir = _scratch("jsonl_scan")
    d.select(line.alias("value")).coalesce(1).write.mode("overwrite").text(
        jdir
    )
    j = (
        spark.read.schema(
            "doc_id long, source string, text string, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(jdir)
    )
    return (
        j.withColumn("is_corrupt", F.col("_corrupt_record").isNotNull())
        .groupBy(F.coalesce("source", F.lit("__corrupt__")).alias("source"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("is_corrupt"), 1).otherwise(0))
            .cast("long")
            .alias("n_corrupt"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                ~F.col("is_corrupt"),
                                F.concat_ws(
                                    ":", F.col("doc_id"), F.col("text")
                                ),
                            )
                        )
                    ),
                )
            ).alias("content_md5"),
        )
    )


ORACLE_JSONL_SCAN = """
WITH d AS (
  SELECT doc_id, source, text || ' with "quoted" tail' AS text,
         doc_id % 50 = 0 AS is_corrupt
  FROM documents
)
SELECT CASE WHEN is_corrupt THEN '__corrupt__' ELSE source END AS source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN is_corrupt THEN 1 ELSE 0 END) AS BIGINT)
           AS n_corrupt,
       md5(coalesce(array_to_string(
           list_sort(list(CAST(doc_id AS VARCHAR) || ':' || text)
                     FILTER (WHERE NOT is_corrupt)),
           '|'), '')) AS content_md5
FROM d
GROUP BY 1
"""


def q_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip (the third columnar interchange format after
    parquet/CSV — warehouse estates hand Spark ORC constantly):
    documents are written as ORC with (source) partitioning, read
    back through the partition-discovering scan with a partition
    filter AND a data filter (both must push into the ORC reader),
    and aggregated. Oracle computes the same from the source table —
    a type-mapping or partition-decode defect breaks the hash."""
    d = _docs(spark, sf_dir).select("doc_id", "source", "lang", "n_chars")
    odir = _scratch("orc_scan")
    # One file per partition value (guide §6): writing from the 32-way
    # scan produced 32 tasks x 5 sources = 160 tiny files whose commit
    # renames dominated the wall; clustering by the partition column
    # first writes 5 right-sized files and the read-back lists 5.
    d.repartition("source").write.mode("overwrite").partitionBy("source").orc(odir)
    o = (
        spark.read.orc(odir)
        .filter((F.col("source") != "src0") & (F.col("n_chars") >= 100))
    )
    return o.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("doc_id").cast("long").alias("min_id"),
        F.max("doc_id").cast("long").alias("max_id"),
    )


ORACLE_ORC_SCAN = """
SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       CAST(max(doc_id) AS BIGINT) AS max_id
FROM documents
WHERE source <> 'src0' AND n_chars >= 100
GROUP BY source, lang
"""


_WINNOW_BOILER = (
    "the quick brown fox jumps over the lazy dog near the riverbank today"
)


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-SPAN removal (Lee et al. 2022 "Deduplicating Training
    Data Makes Language Models Better", at 8-token n-gram granularity):
    every 8-gram that occurs >= 2 times ANYWHERE in the corpus (any
    alignment, any document — including within-doc repeats) has its
    full 8-token extent removed from every document; the survivors are
    reassembled in order. This is the span-level complement of
    ``dedup_passages`` (fixed non-overlapping segments, first
    occurrence kept) and the removal counterpart of ``dedup_winnow``
    (detection only). The same boilerplate planting as winnow (every
    7th doc appended, every 14th PREPENDED) proves alignment
    robustness: the prepended copy shifts every fixed boundary but
    still vanishes.

    Scale shape: the n-gram stream shuffles once on an md5-int64 key
    (map-side combinable count, Zipf head -> AQE); covered-position
    expansion and text rebuild are per-doc array work after ONE
    groupBy(doc) of the duplicated starts; hash arrays sit behind
    projection boundaries (NOTES #12) and the explode is _outer
    (NOTES #13). Output: per-doc token accounting + md5 of the
    cleaned text."""
    k = 8
    d = _docs(spark, sf_dir)
    inj = (
        F.when(
            F.col("doc_id") % 14 == 0,
            F.concat(F.lit(_WINNOW_BOILER + " "), F.col("text")),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" " + _WINNOW_BOILER)),
        )
        .otherwise(F.col("text"))
    )
    t = d.select("doc_id", TS.tokens(inj).alias("toks"))
    h = t.select(
        "doc_id",
        "toks",
        F.when(
            F.size("toks") >= k,
            F.expr(
                f"transform(sequence(1, size(toks) - {k - 1}),"
                f" i -> conv(substring(md5(array_join("
                f"slice(toks, i, {k}), ' ')), 1, 15), 16, 10))"
            ).cast("array<long>"),
        )
        .otherwise(F.expr("CAST(array() AS array<long>)"))
        .alias("hs"),
    )
    from pyspark import StorageLevel

    # TWO consumers (corpus-wide duplicate-gram counts and the per-doc
    # covered-start sets): persist so the 8-gram md5 projection and the
    # explode run once per execution instead of twice
    grams = h.select(
        "doc_id", F.posexplode_outer("hs").alias("pos", "g")
    ).filter(F.col("g").isNotNull()).persist(StorageLevel.MEMORY_AND_DISK)
    dup = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("g")
    )
    starts = (
        grams.join(dup, "g")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("starts"))
    )
    # rebuild joins starts onto t (tokens only) — joining onto h would
    # recompute the full n-gram hash projection for the rebuild side
    j = t.join(starts, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce(
            F.col("starts"), F.expr("CAST(array() AS array<int>)")
        ).alias("starts"),
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                "starts", lambda s: F.sequence(s, s + F.lit(k - 1))
            )
        )
    )
    # posexplode is 0-based; covered spans are [start, start+7] in the
    # same base. kept = tokens whose index is in no covered span.
    cleaned = F.filter(
        F.transform(
            "toks", lambda tk, i: F.struct(tk.alias("t"), i.alias("i"))
        ),
        lambda r: ~F.array_contains(covered, r["i"]),
    )
    return j.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        (F.size("toks") - F.size(cleaned)).cast("int").alias("n_removed"),
        F.md5(
            F.array_join(F.transform(cleaned, lambda r: r["t"]), " ")
        ).alias("clean_md5"),
    )


ORACLE_DEDUP_SPANS = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(
           CASE WHEN doc_id % 14 = 0 THEN '{_WINNOW_BOILER} ' || text
                WHEN doc_id % 7 = 0 THEN text || ' {_WINNOW_BOILER}'
                ELSE text END, ' '), x -> x <> '') AS toks
  FROM documents
), h AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 8 THEN
           list_transform(range(1, len(toks) - 6),
             i -> {_md5i64_sql("array_to_string(toks[i:i+7], ' ')")})
         ELSE [] END AS hs
  FROM t
), grams AS (
  SELECT doc_id, i - 1 AS pos, hs[i] AS g
  FROM h, unnest(range(1, len(hs) + 1)) AS u(i)
), dup AS (
  SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
), starts AS (
  SELECT doc_id, list_distinct(list(pos)) AS starts
  FROM grams JOIN dup USING (g) GROUP BY doc_id
), j AS (
  SELECT h.doc_id, h.toks, COALESCE(s.starts, []) AS starts
  FROM h LEFT JOIN starts s ON s.doc_id = h.doc_id
), c AS (
  SELECT doc_id, toks,
         list_distinct(flatten(list_transform(starts,
             s -> range(s, s + 8)))) AS covered
  FROM j
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(covered) - len(list_filter(covered,
           p -> p > len(toks) - 1)) AS INT) AS n_removed,
       md5(coalesce(array_to_string(
           list_filter(toks, (tk, i) -> NOT list_contains(covered, i - 1)),
           ' '), '')) AS clean_md5
FROM c
"""


def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-robust duplicated-span detection via winnowing
    (Schleimer et al., the MOSS fingerprint scheme;
    operators/dedup.winnow_fingerprints): token-4-gram hashes →
    per-window-of-8 minima → distinct fingerprints, so any two
    documents sharing a span of ≥ 11 tokens AT ANY ALIGNMENT share a
    fingerprint — the guarantee fixed-stride passage hashing loses the
    moment a shared footer shifts by one token. A 13-token boilerplate
    is planted on every 7th document (APPENDED, but PREPENDED on every
    14th — the alignment case that defeats stride schemes) and the
    query reports, per document, how many of its distinct fingerprints
    occur in ≥2 documents. All JVM array expressions until one
    explode + two bounded aggregations; fingerprint volume is
    ~2/(w+1) of the shingle count, so the shuffle is ~4× lighter than
    full-shingle decontamination at the same detection floor.
    Reference analog: reference/extract_feature.py's per-clip identity
    keys, generalized to content fingerprints."""
    d = _docs(spark, sf_dir)
    inj = (
        F.when(
            F.col("doc_id") % 14 == 0,
            F.concat(F.lit(_WINNOW_BOILER + " "), F.col("text")),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" " + _WINNOW_BOILER)),
        )
        .otherwise(F.col("text"))
    )
    # the hash array MUST be materialized behind a projection boundary
    # before winnowing: inlined, the whole shingle+md5 array expression
    # lands inside the per-window lambda and is re-evaluated ONCE PER
    # WINDOW (~50x the md5 work — measured 9.8s -> 2.7s at sf0.1;
    # CollapseProject declines to merge because the alias is expensive
    # and multiply-referenced, which is exactly the barrier we want)
    h = d.select(
        "doc_id", F.transform(TS.shingles(inj, 4), DD.md5i64).alias("hs")
    )
    f = h.select(
        "doc_id", DD.winnow_fingerprints(F.col("hs"), w=8).alias("fps")
    )
    # explode_OUTER, deliberately: inner explode triggers
    # InferFiltersFromGenerate, whose inferred size(fps)>0 predicate
    # re-inlines the whole winnow expression (boundary and all) into a
    # scan-level DataFilter — measured 159s vs 3s at sf0.1. Outer
    # explode infers nothing; the isNotNull filter below restores the
    # inner semantics (empty docs emit a null fp row, dropped here).
    ex = (
        f.select(F.col("doc_id"), F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )
    # one shuffle on fp (window count per fingerprint group) replaces
    # the groupBy + self-join pair — the fingerprint stream is computed
    # and shuffled ONCE
    wfp = Window.partitionBy("fp")
    return (
        ex.withColumn("n_docs", F.count(F.lit(1)).over(wfp))
        .filter(F.col("n_docs") >= 2)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_fp"))
    )


ORACLE_DEDUP_WINNOW = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 14 = 0 THEN '{_WINNOW_BOILER} ' || text
              WHEN doc_id % 7 = 0 THEN text || ' {_WINNOW_BOILER}'
              ELSE text END AS txt
  FROM documents
), h AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks) - 2, 1)),
             i -> {_md5i64_sql(
                 "concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ', toks[i+3])"
             )}) AS hs
  FROM (SELECT doc_id, list_filter(string_split(txt, ' '), x -> x <> '') AS toks
        FROM t)
), fp AS (
  SELECT doc_id, unnest(list_distinct(list_filter(
           list_transform(range(1, greatest(len(hs) - 7, 1) + 1),
               i -> list_min(hs[i:i+7])),
           x -> x IS NOT NULL))) AS fp
  FROM h
), hot AS (
  SELECT fp FROM fp GROUP BY fp HAVING count(*) >= 2
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_fp
FROM fp JOIN hot USING (fp)
GROUP BY doc_id
"""


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination (the AI2 BFF /
    Dolma production pattern): identical semantics to ``decontaminate``
    — flag every TRAIN document sharing a hashed word-trigram with any
    TEST document — but the train side is screened map-side against a
    broadcast Bloom bitset built over the test shingle set BEFORE any
    join (operators/bloom.py). At 100 TB this is the difference between
    shuffling 10^12 corpus shingles and shuffling only the ~per-mille
    that might collide: the bitset for a 10^7-shingle benchmark is
    ~19 MiB shipped once per executor. The exact confirm join after the
    prefilter kills Bloom false positives, so the row shares
    ORACLE_DECONTAMINATE verbatim — a probe-scheme, bitset, broadcast,
    or fallback bug breaks the hash. The build side is materialized
    under a hard row cap (bounded driver memory, plain-join fallback
    above it — the knn_bruteforce_blocked guard discipline)."""
    from slowfast_feature_extractor_spark.operators.bloom import bloom_prefilter

    d = _docs(spark, sf_dir)
    bucket = (
        DD.md5i64(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    )
    hashed = F.array_distinct(
        F.transform(TS.shingles(F.col("text"), 3), DD.md5i64)
    )
    from pyspark import StorageLevel

    # THREE evaluations otherwise: the train prefilter side, the bloom
    # build side (an eager bounded job), and the confirm join's test
    # side — persist so the shingle explode + md5 runs once
    sh = d.select(
        F.col("doc_id").alias("id"), bucket.alias("bk"), F.explode(hashed).alias("shingle")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    train = sh.filter(F.col("bk") < 90).select("id", "shingle")
    test = sh.filter(F.col("bk") >= 95).select("shingle").distinct()
    survivors = bloom_prefilter(train, "shingle", test)
    return (
        survivors.join(test, "shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(F.col("id").alias("doc_id"), "n_shared")
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+1-555-[0-9]{4}"
_PII_IP = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the compliance pass every web-corpus pipeline
    runs before training: deterministic email/phone/IP strings are
    injected per document, then redacted with shared-semantics regexes
    (counts taken pre-redaction, placeholder substitution after).
    Map-only JVM regex work, zero shuffle; the oracle re-runs the same
    patterns in DuckDB and hashes the redacted text, so an engine-side
    regex divergence breaks the row."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), i.cast("string"),
        F.lit("@crawl"), (i % 7).cast("string"), F.lit(".org tel +1-555-"),
        F.lpad((i % 10000).cast("string"), 4, "0"),
        F.lit(" host 10."), (i % 256).cast("string"),
        F.lit("."), ((i * 3) % 256).cast("string"),
        F.lit("."), ((i * 7) % 256).cast("string"),
    )
    t = d.select("doc_id", injected.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE, "<PHONE>",
        ),
        _PII_IP, "<IP>",
    )
    return t.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(_PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(_PII_PHONE)).cast("int").alias("n_phones"),
        F.regexp_count(F.col("t"), F.lit(_PII_IP)).cast("int").alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    )


ORACLE_PII_REDACT = f"""
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@crawl' || CAST(doc_id % 7 AS VARCHAR) || '.org tel +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS INT) AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IP>', 'g')) AS redacted_md5
FROM t
"""


# Decomposed / compatibility-singleton / jamo snippets — every NFC
# transformation class: combining-mark composition, canonical
# reordering of multiple marks, singleton replacement (U+212B→U+00C5,
# U+2126→U+03A9), and Hangul jamo→syllable composition. Shared verbatim
# by the Spark injection and the DuckDB oracle.
_NFC_SNIPPETS = [
    "café",
    "Ångström",
    "mañana",
    "Å Ω",
    "ṩ order",
    "각 jamo",
]


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the canonical-form pass every exact
    downstream operator (hash dedup, shingle decontamination,
    fingerprinting) depends on, since raw crawl text mixes precomposed
    and decomposed sequences at the source's whim. Deterministic
    decomposed snippets covering all four NFC transformation classes
    are appended per document JVM-side, normalized by the Arrow-batched
    stdlib UDF (functions/unicode.py — map-only, zero shuffle, linear
    at any corpus size), and hashed; `changed` compares raw vs
    normalized JVM-side. The DuckDB oracle replays utf8proc's
    ``nfc_normalize`` over the identical injected text, so a
    composition-table, reordering, or singleton divergence breaks the
    hash. Reference analog: text keys are consumed verbatim in
    reference/datasets/videoset.py — normalization is the corpus-scale
    prerequisite the single-node tool never needed."""
    from slowfast_feature_extractor_spark.functions.unicode import nfc_normalize

    d = _docs(spark, sf_dir)
    snippet = F.element_at(
        F.array(*[F.lit(s) for s in _NFC_SNIPPETS]),
        (F.col("doc_id") % 6 + 1).cast("int"),
    )
    t = d.select("doc_id", F.concat("text", F.lit(" "), snippet).alias("t"))
    n = t.withColumn("nfc", nfc_normalize(F.col("t")))
    return n.select(
        "doc_id",
        F.length("t").cast("int").alias("n_chars_raw"),
        F.length("nfc").cast("int").alias("n_chars_nfc"),
        (F.col("t") != F.col("nfc")).alias("changed"),
        F.md5("nfc").alias("nfc_md5"),
    )


_NFC_SQL_LIST = ", ".join("'" + s + "'" for s in _NFC_SNIPPETS)

ORACLE_NORMALIZE_TEXT = f"""
WITH t AS (
  SELECT doc_id, text || ' ' || ([{_NFC_SQL_LIST}])[CAST(doc_id % 6 + 1 AS INT)] AS t
  FROM documents
)
SELECT doc_id,
       CAST(length(t) AS INT) AS n_chars_raw,
       CAST(length(nfc_normalize(t)) AS INT) AS n_chars_nfc,
       t <> nfc_normalize(t) AS changed,
       md5(nfc_normalize(t)) AS nfc_md5
FROM t
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters — the tokens covering > φ of all token
    occurrences (stopword discovery, vocabulary head truncation, hot-
    URL detection are all this query): Misra-Gries-shaped batch
    summaries prune the Zipf tail map-side, then ONLY the provably-
    complete candidate set is re-counted exactly (operators/sketch.py)
    — shuffle volume ∝ candidates, not the billion-key distinct
    domain, with output bit-identical to the naive groupBy the DuckDB
    oracle runs. Tokenization shares lm_unigram_score's convention
    (space split, empties dropped). Reference analog: the class-count
    aggregate (reference/just_test_v1.py accuracy tallies), at an
    unbounded key domain."""
    from slowfast_feature_extractor_spark.operators.sketch import heavy_hitters

    d = _docs(spark, sf_dir)
    toks = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return heavy_hitters(toks, "tok", phi=0.004).select(
        F.col("k").alias("token"), "cnt"
    )


ORACLE_HEAVY_HITTERS = """
WITH t AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
  FROM documents
), m AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY token
)
SELECT token, cnt FROM m
WHERE cnt > 0.004 * (SELECT count(*) FROM t)
"""


def q_lm_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: build a unigram LM from the
    corpus itself (word → count, one shuffle with map-side partials),
    then score every document by its average log10 unigram probability
    — the KenLM-style filter rank web pipelines use, self-contained.
    The scoring join keys on the word; at corpus scale the word would
    be hashed to int64 first (the minhash key discipline) and the
    model's Zipf head makes the join skew-prone — AQE skew-split
    handles it, or salt the top-k words. Output: (doc_id, n_tokens,
    avg_logp) with avg_logp = (Σ log10 cnt(w) − n·log10 N) / n."""
    d = _docs(spark, sf_dir)
    # persist was A/B-tested here and REVERTED: caching the 5M-row token
    # stream costs more than recomputing the cheap split+explode
    toks = d.select("doc_id", F.explode(TS.tokens(F.col("text"))).alias("w"))
    # NOTE (r7, measured then REVERTED): the model feeds two branches
    # (broadcast scoring join + tot) and each re-runs the token
    # explode+count — but persisting the vocab-row model measured
    # EQUAL across 5 interleaved A/B rounds at the sf1.0 proxy
    # (WITH 2.12-2.28 s vs WITHOUT 1.93-2.14 s; one early 1.42-vs-2.31
    # reading was window luck) and ~0.2 s WORSE at sf0.1: the extra
    # cache/broadcast job overhead costs about what one fused
    # explode+partial-count corpus pass costs. Recompute stays.
    model = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    tot = model.agg(F.sum("cnt").cast("long").alias("tot"))
    per_doc = (
        toks.join(model, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.log10("cnt")).alias("sum_log"),
        )
    )
    # boundary-tie risk, documented (ADVICE r4): a sum of log10 terms is
    # genuinely inexact, so round(x, 6) COULD disagree between engines
    # when x lands exactly on a 5 in the 7th decimal. Unlike the ratio
    # rows (doc_repetition, now integer-ppm) there is no exact integer
    # re-expression of a log sum; the fixed fixture is deterministic and
    # green, and a flake here on a regenerated corpus indicts the
    # rounding boundary, not the operator.
    return per_doc.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        F.round(
            (F.col("sum_log") - F.col("n_tokens") * F.log10("tot"))
            / F.col("n_tokens"),
            6,
        ).alias("avg_logp"),
    )


ORACLE_LM_UNIGRAM_SCORE = """
WITH t AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
  FROM documents
), m AS (
  SELECT w, count(*) AS cnt FROM t GROUP BY w
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM m
), s AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, sum(log(cnt)) AS sum_log
  FROM t JOIN m USING (w) GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round((sum_log - n_tokens * log(tot)) / n_tokens, 6) AS avg_logp
FROM s, tot
"""


_DSIR_BUCKETS = 4096


def q_dsir_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hashed n-gram
    bag-of-words importance weights. ``dsir_logratio`` is the
    PER-FEATURE mean, (log p_target(doc) − log p_raw(doc)) / n_feats —
    a deliberate length normalization so ranking reflects per-token
    target-likeness rather than document length; the paper's
    unnormalized resampling weight is recovered as
    ``dsir_logratio * n_feats``. Features are unigrams + bigrams
    hashed into ``_DSIR_BUCKETS``
    int64 buckets (md5i64 % B — the portable hash discipline); the
    target split is deterministic (doc_id % 10 < 2 plays the
    curated-quality corpus, the rest the raw crawl), both bucket LMs
    are Laplace-smoothed (+1 / +B). At 100 TB this is two shuffles:
    one map-side-combinable groupBy(bucket) to fit both LMs (at most
    B = 4096 rows out — broadcastable), and one groupBy(doc_id) for
    the per-doc sums; the scoring join broadcasts the tiny bucket
    table, so no doc-side shuffle is keyed on the Zipf-skewed feature.
    Output: (doc_id, n_feats, dsir_logratio) — resample/filter by
    thresholding the ratio (the paper's top-k selection is
    ``stratified_sample`` over this column)."""
    B = _DSIR_BUCKETS
    d = _docs(spark, sf_dir)
    base = d.select(
        "doc_id",
        TS.tokens(F.col("text")).alias("toks"),
        ((F.col("doc_id") % 10) < 2).alias("is_tgt"),
    )
    grams = base.select(
        "doc_id",
        "is_tgt",
        F.explode(
            F.concat(
                F.col("toks"),
                F.expr(
                    "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                    " (x, i) -> concat(x, ' ', toks[i + 1]))"
                ),
            )
        ).alias("g"),
    ).select("doc_id", "is_tgt", (DD.md5i64(F.col("g")) % B).alias("bucket"))
    from pyspark import StorageLevel

    # LM fit and scoring join both read the hashed gram stream — persist
    # so the unigram+bigram explode and md5 run once per execution
    grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
    m = grams.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_tgt"), 1).otherwise(0)).alias("cnt_t"),
        F.sum(F.when(~F.col("is_tgt"), 1).otherwise(0)).alias("cnt_r"),
    )
    tot = m.agg(
        F.sum("cnt_t").cast("long").alias("tot_t"),
        F.sum("cnt_r").cast("long").alias("tot_r"),
    )
    per_doc = (
        grams.join(F.broadcast(m), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum(
                F.log10(F.col("cnt_t") + F.lit(1))
                - F.log10(F.col("cnt_r") + F.lit(1))
            ).alias("sum_delta"),
        )
    )
    # same boundary-tie caveat as lm_unigram_score: a log10 sum has no
    # exact integer re-expression; round(x, 6) is deterministic on the
    # fixed fixture
    return per_doc.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_feats",
        F.round(
            F.col("sum_delta") / F.col("n_feats")
            - F.log10(F.col("tot_t") + F.lit(B))
            + F.log10(F.col("tot_r") + F.lit(B)),
            6,
        ).alias("dsir_logratio"),
    )


ORACLE_DSIR_SCORE = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks,
         (doc_id % 10) < 2 AS is_tgt
  FROM documents
), g AS (
  SELECT doc_id, is_tgt,
         unnest(list_concat(toks,
           list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1]))) AS g
  FROM base
), f AS (
  SELECT doc_id, is_tgt,
         {_md5i64_sql("g")} % {_DSIR_BUCKETS} AS bucket
  FROM g
), m AS (
  SELECT bucket,
         sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS cnt_t,
         sum(CASE WHEN NOT is_tgt THEN 1 ELSE 0 END) AS cnt_r
  FROM f GROUP BY bucket
), tot AS (
  SELECT CAST(sum(cnt_t) AS BIGINT) AS tot_t,
         CAST(sum(cnt_r) AS BIGINT) AS tot_r
  FROM m
), s AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         sum(log(cnt_t + 1) - log(cnt_r + 1)) AS sum_delta
  FROM f JOIN m USING (bucket) GROUP BY doc_id
)
SELECT doc_id, n_feats,
       round(sum_delta / n_feats
             - log(tot_t + {_DSIR_BUCKETS})
             + log(tot_r + {_DSIR_BUCKETS}), 6) AS dsir_logratio
FROM s, tot
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup — the shape that actually runs at 100 TB:
    a NEW crawl batch (20% of docs by id hash here) is checked against
    the EXISTING corpus without re-deduplicating the corpus itself.
    Two passes over the new batch only: (1) exact — md5(text) left-semi
    against the old corpus's distinct hashes; (2) near — MinHash band
    buckets (same signature discipline as ``dedup_minhash_lsh``)
    left-semi against the old corpus's distinct buckets. Both probes
    key on int64/hex hashes, both old-side relations are
    distinct-reduced before the join (partial aggregation), and nothing
    ever pairs new×new or old×old — candidate volume is ∝ the batch,
    not the corpus. Output: every new doc with its status
    ('exact' | 'near' | 'unique')."""
    d = _docs(spark, sf_dir)
    is_new = (F.col("doc_id") % 10) >= 8
    keyed = d.select("doc_id", F.md5("text").alias("h"), is_new.alias("is_new"))
    old_h = keyed.filter(~F.col("is_new")).select("h").distinct()
    from pyspark import StorageLevel

    # old-side and new-side probes both read the band table; persist the
    # tiny per-doc signature relation so the shingle explode + salted
    # hashing runs once per execution
    sigs = DD.minhash_signatures(d, num_hashes=_N_MINHASH).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bands = DD.band_buckets(sigs, _N_MINHASH, _N_BANDS)
    # is_new is a pure function of the id — derive it on the band rows
    # instead of joining the corpus back in (the r6 join re-scanned
    # documents and shuffled n rows just to re-attach (doc_id % 10) >= 8)
    band_is_new = (F.col("id") % 10) >= 8
    old_b = bands.filter(~band_is_new).select("band", "bucket").distinct()
    return _incremental_status(keyed.filter("is_new"), old_h, bands.filter(band_is_new), old_b)


def _incremental_status(
    new: DataFrame, old_h: DataFrame, new_bands: DataFrame, old_b: DataFrame
) -> DataFrame:
    """(doc_id, status) for every ``new`` (doc_id, h) row: 'exact' when
    its md5 ``h`` is in ``old_h``, else 'near' when one of its
    ``new_bands`` (id, band, bucket) rows is in ``old_b``, else
    'unique'. Both probes are left-semi joins against the old side."""
    exact = (
        new.join(old_h, "h", "left_semi").select("doc_id")
        .withColumn("exact", F.lit(True))
    )
    near = (
        new_bands.join(old_b, ["band", "bucket"], "left_semi")
        .select(F.col("id").alias("doc_id"))
        .distinct()
        .withColumn("near", F.lit(True))
    )
    return (
        new.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact"), F.lit("exact"))
            .when(F.col("near"), F.lit("near"))
            .otherwise(F.lit("unique"))
            .alias("status"),
        )
    )


ORACLE_DEDUP_INCREMENTAL = f"""
WITH {_SHINGLE_CTE},
{_lsh_buckets(_MINHASH_SIG)},
k AS (SELECT doc_id, md5(text) AS h, (doc_id % 10) >= 8 AS is_new FROM documents),
old_h AS (SELECT DISTINCT h FROM k WHERE NOT is_new),
exact AS (SELECT doc_id FROM k WHERE is_new AND h IN (SELECT h FROM old_h)),
old_b AS (SELECT DISTINCT band, bucket FROM buckets
          WHERE id IN (SELECT doc_id FROM k WHERE NOT is_new)),
near AS (SELECT DISTINCT b.id AS doc_id
         FROM buckets b JOIN old_b o
           ON b.band = o.band AND b.bucket = o.bucket
         WHERE b.id IN (SELECT doc_id FROM k WHERE is_new))
SELECT k.doc_id,
       CASE WHEN k.doc_id IN (SELECT doc_id FROM exact) THEN 'exact'
            WHEN k.doc_id IN (SELECT doc_id FROM near) THEN 'near'
            ELSE 'unique' END AS status
FROM k WHERE k.is_new
"""


def incremental_index_dir(sf_dir: str) -> str:
    """Deterministic per-corpus location of the persisted dedup index,
    fingerprinted by the documents table's (path, size, mtime) so a
    regenerated corpus invalidates the index instead of serving stale
    signatures."""
    import hashlib as _hashlib

    doc = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    st = os.stat(doc)
    # nanosecond mtime: whole-second granularity let a file regenerated
    # twice within one second (same byte size — deterministic
    # generators do this) silently serve the PREVIOUS corpus's index
    tag = _hashlib.md5(
        f"{doc}|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"sfe_incr_index_{tag}")


def build_incremental_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-ONCE corpus signature index for incremental ingest — what
    "incremental" means at 100 TB: the corpus side's exact-hash and
    MinHash band tables are materialized to parquet a single time (in
    production: appended per ingested batch), so each new batch pays
    only its own signatures, never a corpus recompute (VERDICT r4 #4).
    Atomic publish: write to a staging dir, rename into place — a
    concurrent builder loses the race harmlessly."""
    target = incremental_index_dir(sf_dir)
    if os.path.exists(os.path.join(target, "exact", "_SUCCESS")) and os.path.exists(
        os.path.join(target, "bands", "_SUCCESS")
    ):
        return target
    d = _docs(spark, sf_dir)
    is_old = (F.col("doc_id") % 10) < 8
    old = d.filter(is_old)
    staging = tempfile.mkdtemp(prefix="sfe_incr_stage_")
    old.select(F.md5("text").alias("h")).distinct().write.mode("overwrite").parquet(
        os.path.join(staging, "exact")
    )
    DD.band_buckets(
        DD.minhash_signatures(old, num_hashes=_N_MINHASH), _N_MINHASH, _N_BANDS
    ).select("band", "bucket").distinct().write.mode("overwrite").parquet(
        os.path.join(staging, "bands")
    )
    try:
        os.rename(staging, target)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)  # lost the publish race
    return target


def q_dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index incremental dedup — the amortized production
    shape of ``dedup_incremental``: the corpus side is READ from the
    prebuilt parquet index (:func:`build_incremental_index`), and ONLY
    the 20% new batch pays tokenize/minhash. Candidate volume and
    signature compute are both ∝ batch size; the corpus contributes a
    distinct-reduced semi-join build side that at 10^12 docs would be
    bucketed on the probe key. Output and oracle identical to
    ``dedup_incremental`` (same statuses, independently recomputed)."""
    idx = build_incremental_index(spark, sf_dir)
    old_h = spark.read.parquet(os.path.join(idx, "exact"))
    old_b = spark.read.parquet(os.path.join(idx, "bands"))

    d = _docs(spark, sf_dir)
    batch = d.filter((F.col("doc_id") % 10) >= 8)
    keyed = batch.select("doc_id", F.md5("text").alias("h"))
    bands = DD.band_buckets(
        DD.minhash_signatures(batch, num_hashes=_N_MINHASH), _N_MINHASH, _N_BANDS
    )
    return _incremental_status(keyed, old_h, bands, old_b)


def q_pagerank2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph analytics over a deterministic synthetic link graph:
    every doc links to ``(doc_id*7 + k) % n`` for k = 1..(1 + id%3)
    (out-degree 1-3), and PageRank runs two unrolled power iterations
    from the uniform vector (damping 0.85) — the classic host-ranking
    signal a crawl pipeline feeds back into scheduling. Each iteration
    is one shuffle: edges join the current rank vector on src (partial
    per-dst aggregation), dangling mass handled by the left join's
    coalesce. Unrolled iterations keep the whole computation a single
    Catalyst plan; the open-ended variant (iterate to convergence with
    localCheckpoint per round) is ``dedup_clusters``' pattern. Output
    rounded at 9 dp — in-degree sums are ≤ a handful of terms, so
    float addition order cannot reach the rounding granularity."""
    d = _docs(spark, sf_dir).select("doc_id")
    n_df = d.agg(F.count(F.lit(1)).alias("n"))
    nodes = d.crossJoin(F.broadcast(n_df))
    edges = nodes.select(
        F.col("doc_id").alias("src"),
        "n",
        F.explode(
            F.sequence(F.lit(1), (F.lit(1) + F.col("doc_id") % 3).cast("int"))
        ).alias("k"),
    ).select(
        "src", "n", ((F.col("src") * 7 + F.col("k")) % F.col("n")).alias("dst")
    )
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    e = edges.join(out_deg, "src")

    def iterate(rank_df):
        # rank_df: (doc_id, pr); contribution = pr(src)/odeg summed per dst
        contrib = (
            e.join(rank_df.withColumnRenamed("doc_id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("odeg")).alias("mass"))
        )
        return (
            nodes.join(contrib, nodes["doc_id"] == contrib["dst"], "left")
            .select(
                "doc_id",
                (
                    0.15 / F.col("n") + 0.85 * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("pr"),
            )
        )

    pr = nodes.select("doc_id", (F.lit(1.0) / F.col("n")).alias("pr"))
    pr = iterate(iterate(pr))
    return (
        pr.join(out_deg, pr["doc_id"] == out_deg["src"])
        .select("doc_id", F.col("odeg").cast("int").alias("out_deg"),
                F.round("pr", 9).alias("pr2"))
    )


ORACLE_PAGERANK2 = """
WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id * 7 + k) % n AS dst, n
  FROM documents, nn,
       unnest(range(1, 2 + doc_id % 3)) AS t(k)
), od AS (
  SELECT src, CAST(count(*) AS BIGINT) AS odeg FROM e GROUP BY src
), p0 AS (
  SELECT doc_id, 1.0 / n AS pr FROM documents, nn
), p1 AS (
  SELECT d.doc_id,
         0.15 / nn.n + 0.85 * COALESCE(m.mass, 0.0) AS pr
  FROM documents d CROSS JOIN nn
  LEFT JOIN (SELECT e.dst, sum(p0.pr / od.odeg) AS mass
             FROM e JOIN od USING (src) JOIN p0 ON p0.doc_id = e.src
             GROUP BY e.dst) m ON m.dst = d.doc_id
), p2 AS (
  SELECT d.doc_id,
         0.15 / nn.n + 0.85 * COALESCE(m.mass, 0.0) AS pr
  FROM documents d CROSS JOIN nn
  LEFT JOIN (SELECT e.dst, sum(p1.pr / od.odeg) AS mass
             FROM e JOIN od USING (src) JOIN p1 ON p1.doc_id = e.src
             GROUP BY e.dst) m ON m.dst = d.doc_id
)
SELECT p2.doc_id, CAST(od.odeg AS INT) AS out_deg, round(p2.pr, 9) AS pr2
FROM p2 JOIN od ON od.src = p2.doc_id
"""


def q_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus stats via EXPLICIT two-stage salted
    aggregation — the skew treatment for the web's reality that one
    domain can hold 10^9 of 10^12 pages: stage 1 aggregates
    (domain, salt=doc_id%16) partials so a hot domain's rows spread
    over 16 reducers, stage 2 merges the ≤16 partials per domain.
    Every aggregate here is algebraic (count/sum/min/max decompose
    exactly), so the salted result is bit-identical to the direct
    groupBy the oracle runs. AQE's skew handling covers joins, not
    aggregations — for aggs the salt IS the mechanism, and partial
    (map-side) aggregation alone does not help when one reducer key
    owns the group."""
    d = _docs(spark, sf_dir)
    domain = F.concat(F.col("source"), F.lit(".example.com")).alias("domain")
    t = d.select(
        domain,
        (F.col("doc_id") % 16).alias("salt"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("lang"),
    )
    stage1 = t.groupBy("domain", "salt").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("n_chars").alias("s"),
        F.min("n_chars").alias("mn"),
        F.max("n_chars").alias("mx"),
    )
    # count_distinct does NOT decompose across salts — it gets its own
    # (domain, lang)-keyed distinct pass, which DOES decompose
    langs = (
        t.select("domain", "lang").distinct()
        .groupBy("domain").agg(F.count(F.lit(1)).alias("n_langs"))
    )
    merged = stage1.groupBy("domain").agg(
        F.sum("c").alias("n_docs"),
        F.sum("s").alias("chars_total"),
        F.min("mn").alias("chars_min"),
        F.max("mx").alias("chars_max"),
    )
    return merged.join(langs, "domain").select(
        "domain", "n_docs", "chars_total", "chars_min", "chars_max",
        F.col("n_langs").cast("long").alias("n_langs"),
    )


ORACLE_DOMAIN_ROLLUP = """
SELECT source || '.example.com' AS domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars_total,
       CAST(min(n_chars) AS BIGINT) AS chars_min,
       CAST(max(n_chars) AS BIGINT) AS chars_max,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents GROUP BY source
"""


def q_dual_rate_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 driver-checkable: the STREAMING dual-rate PIT featurizer
    (streaming/dual_rate_stream.py, applyInPandasWithState with bounded
    per-entity state) replayed under availableNow and hashed against a
    batch trailing-window oracle — the last streaming operator family
    that had only pytest parity.

    Replay shape: events get a synthetic strictly-increasing per-user
    timestamp (base + row_number seconds — unique, so arrival order is
    deterministic and the oracle's ORDER BY reproduces it exactly) and
    stream as ONE file/micro-batch. Every row is featurized against
    state BEFORE being appended (strictly-earlier inputs only — the
    zero-leakage rule in flight), so the emitted features equal the
    batch ``ROWS BETWEEN k PRECEDING AND 1 PRECEDING`` windows. The
    measure is integer cents carried in doubles, so both engines
    compute exact-integer sums divided once — bit-identical averages."""
    from slowfast_feature_extractor_spark.streaming.dual_rate_stream import (
        streaming_dual_rate,
    )

    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    staged = ev.select(
        F.col("user_id").cast("string").alias("user_id"),
        (
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(secs=F.row_number().over(w).cast("double"))
        ).alias("ts"),
        F.col("value_cents").cast("double").alias("value"),
    )
    base = _scratch("dual_rate_streamed")
    stream = _replay(
        spark, base, "user_id string, ts timestamp, value double", staged
    )
    feats = streaming_dual_rate(
        stream, entity="user_id", ts="ts", measure="value",
        fast_rows=8, slow_rows=64, watermark="10 seconds",
    )
    out = _run_available_now(feats, base)
    return spark.read.parquet(out).select(
        F.col("user_id").cast("long").alias("user_id"),
        "ts",
        F.round("fast_avg", 6).alias("fast_avg"),
        "fast_cnt",
        F.round("slow_avg", 6).alias("slow_avg"),
        "slow_cnt",
        "n_hist_rows",
    )


ORACLE_DUAL_RATE_STREAMED = f"""
WITH ev AS ({_EV_CENTS_SQL}),
staged AS (
  SELECT user_id,
         TIMESTAMP '2026-01-01 00:00:00'
           + to_seconds(CAST(row_number() OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)) AS ts,
         CAST(value_cents AS DOUBLE) AS value
  FROM ev
)
SELECT user_id, ts,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING), 6) AS fast_avg,
       CAST(count(value) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS BIGINT) AS fast_cnt,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 64 PRECEDING AND 1 PRECEDING), 6) AS slow_avg,
       CAST(count(value) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 64 PRECEDING AND 1 PRECEDING) AS BIGINT) AS slow_cnt,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS BIGINT)
           AS n_hist_rows
FROM staged
"""


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot diffing — the incremental-ingest companion to
    ``dedup_incremental``: two deterministic snapshots of the corpus
    (A = docs except ids ≡ 1 mod 7; B = docs except ids ≡ 2 mod 7, with
    ids ≡ 0 mod 5 "re-crawled" to changed content) are compared by url
    key into added / removed / changed / unchanged. One full-outer join
    on the key with hash comparison — at 10^12 rows this is the
    bucketed-join shape (both snapshots partition by the same url key;
    with Iceberg bucket layout the shuffle disappears entirely).
    Aggregated per (status, lang) so the row stays compact."""
    d = _docs(spark, sf_dir)
    a = d.filter(F.col("doc_id") % 7 != 1).select(
        "doc_id", "lang", F.md5("text").alias("h_a")
    )
    b = d.filter(F.col("doc_id") % 7 != 2).select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 5 == 0, F.md5(F.concat(F.lit("v2:"), F.col("text")))
        ).otherwise(F.md5("text")).alias("h_b"),
    )
    j = a.join(b, ["doc_id", "lang"], "full_outer")
    status = (
        F.when(F.col("h_a").isNull(), F.lit("added"))
        .when(F.col("h_b").isNull(), F.lit("removed"))
        .when(F.col("h_a") != F.col("h_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(status.alias("status"), "lang")
        .groupBy("status", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


ORACLE_CRAWL_DIFF = """
WITH a AS (
  SELECT doc_id, lang, md5(text) AS h_a FROM documents WHERE doc_id % 7 <> 1
), b AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 5 = 0 THEN md5('v2:' || text)
              ELSE md5(text) END AS h_b
  FROM documents WHERE doc_id % 7 <> 2
)
SELECT CASE WHEN a.h_a IS NULL THEN 'added'
            WHEN b.h_b IS NULL THEN 'removed'
            WHEN a.h_a <> b.h_b THEN 'changed'
            ELSE 'unchanged' END AS status,
       COALESCE(a.lang, b.lang) AS lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id AND a.lang = b.lang
GROUP BY 1, 2
"""


def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Href extraction → host-level link graph, the step that feeds
    ``pagerank2`` and crawl scheduling: each doc is rendered into a
    deterministic HTML page (its text plus 1-3 anchor tags whose
    targets follow the pagerank2 edge scheme, hosts = id mod 97), the
    hrefs are recovered with ``regexp_extract_all`` over the raw page
    — the real crawl-pipeline extraction, not a lookup of the synth
    rule — and aggregated into (src_host, dst_host, n_links). All
    JVM-side: template + regex are map-only inside whole-stage
    codegen; the single shuffle is the partial-agg groupBy on the
    (src, dst) host pair, whose cardinality is bounded by hosts², not
    docs. At 100 TB the regex scan is embarrassingly parallel and the
    edge aggregate is the natural pre-reduction before any graph
    algorithm consumes it."""
    d = _docs(spark, sf_dir)
    pages = d.select("doc_id", _page_html().alias("html"))
    hrefs = pages.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(html, '<a href=\"([^\"]+)\"', 1)")
        ).alias("href"),
    )
    return hrefs.groupBy(
        F.concat(
            F.lit("h"), (F.col("doc_id") % 97).cast("string"), F.lit(".example.com")
        ).alias("src_host"),
        F.regexp_extract(F.col("href"), "https://([^/]+)/", 1).alias("dst_host"),
    ).agg(F.count(F.lit(1)).alias("n_links"))


ORACLE_LINK_GRAPH = """
WITH h AS (
  SELECT doc_id,
         '<html><body><p>' || text || '</p>' ||
         array_to_string(list_transform(range(1, 2 + CAST(doc_id % 3 AS INT)),
           k -> '<a href="https://h' || CAST((doc_id * 7 + k) % 97 AS VARCHAR)
                || '.example.com/p/' || CAST(doc_id AS VARCHAR) || '">x</a>'), '')
         || '</body></html>' AS html
  FROM documents
), e AS (
  SELECT doc_id,
         unnest(regexp_extract_all(html, '<a href="([^"]+)"', 1)) AS href
  FROM h
)
SELECT 'h' || CAST(doc_id % 97 AS VARCHAR) || '.example.com' AS src_host,
       regexp_extract(href, 'https://([^/]+)/', 1) AS dst_host,
       CAST(count(*) AS BIGINT) AS n_links
FROM e
GROUP BY 1, 2
"""


def _synth_url() -> F.Column:
    """Canonical url of a document's own page: host ``h{doc_id%97}``,
    path ``/p/{doc_id}`` — the ONE definition the link-graph family
    (link_graph, anchor_text, url_frontier) and the WARC family
    (warc_parse, warc_scan, cdx_index) all share; cross-query
    invariants (frontier∩crawled=∅, anchor mass = edge mass, CDX
    offsets vs blobs) depend on these staying byte-identical."""
    return F.concat(
        F.lit("https://h"),
        (F.col("doc_id") % 97).cast("string"),
        F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"),
    )


def _page_html(anchor_sql: str = "'x'") -> F.Column:
    """Deterministic rendered page: the doc text plus 1-3 anchor tags
    whose targets follow the pagerank2 edge scheme
    (``h{(doc_id*7+k)%97}/p/{doc_id}``); ``anchor_sql`` is a SQL
    expression (over ``doc_id`` and the tag index ``k``) for the
    anchor text. Extraction queries run REAL regexes over this raw
    page — never a lookup of the synth rule."""
    links = F.expr(
        "transform(sequence(1, 1 + cast(doc_id % 3 as int)), k ->"
        " concat('<a href=\"https://h', cast((doc_id * 7 + k) % 97 as string),"
        " '.example.com/p/', cast(doc_id as string), '\">', "
        + anchor_sql
        + ", '</a>'))"
    )
    return F.concat(
        F.lit("<html><body><p>"),
        F.col("text"),
        F.lit("</p>"),
        F.array_join(links, ""),
        F.lit("</body></html>"),
    )


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition-free quality gating (Rae et al. 2021
    §A1.1): per-document rule flags — word-count bounds, mean-word-
    length bounds, alpha-word ratio, minimum stop-word evidence — and
    the conjunctive keep decision. The engine analog of the reference's
    rating-validity gate (reference/just_test_v1.py:1550-1557): cheap
    row-local predicates that run BEFORE any heavy featurization.

    Every rule is exact-integer arithmetic (``4*w <= chars <= 10*w``
    instead of a float ``chars/w`` ratio test; the lower bound is 4,
    deliberately tighter than the paper's 3 — see
    ``textstats.gopher_rules`` for why) so the flags are
    bit-reproducible across engines and no boundary value can flake
    on a rounding tie (the r4 advice item on round(x, 6)). Map-only:
    the whole query is one whole-stage-codegen projection over the
    scan with zero shuffles; at 100 TB it is embarrassingly parallel
    and the natural first pass that shrinks the corpus before any
    shuffle-bearing operator runs."""
    d = _docs(spark, sf_dir)
    rules = TS.gopher_rules(F.col("text"))
    return d.select(
        "doc_id", *[c.alias(name) for name, c in rules.items()]
    )


ORACLE_GOPHER_FILTER = f"""
WITH b AS (
  SELECT doc_id,
    len(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
    length(replace(text, ' ', '')) AS chars,
    len(list_filter(string_split(text, ' '),
        x -> list_contains({_STOPS_SQL}, x))) AS stops,
    len(list_filter(string_split(text, ' '),
        x -> x <> '' AND regexp_matches(x, '[A-Za-z]'))) AS alpha
  FROM documents
)
SELECT doc_id,
  (w >= 30 AND w <= 100000) AS rule_word_count,
  (chars >= 4 * w AND chars <= 10 * w) AS rule_avg_word_len,
  (5 * alpha >= 4 * w) AS rule_alpha_ratio,
  (stops >= 2) AS rule_stopwords,
  ((w >= 30 AND w <= 100000) AND (chars >= 4 * w AND chars <= 10 * w)
   AND (5 * alpha >= 4 * w) AND (stops >= 2)) AS keep
FROM b
"""


def q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inbound anchor-text aggregation — the classic web-featurization
    step where a target page's feature vector includes the text other
    pages use to link to it. Pages are rendered deterministically (same
    edge scheme as ``link_graph`` / ``pagerank2``), full ``<a>`` tags
    are recovered with ``regexp_extract_all`` over the raw HTML, and
    each tag is split into (href → dst_host, anchor text); the
    aggregate per dst_host is (inbound-link count, distinct anchor
    vocabulary size, sorted distinct anchor terms). All JVM-side: the
    render+regex is map-only inside whole-stage codegen; the single
    shuffle is the partial-agg groupBy on dst_host whose cardinality is
    bounded by the host universe (97 here), not by pages. collect_set
    order is engine-private, so the output canonicalizes through
    sort_array before join — the same discipline as session type_seq.
    At 100 TB this is the standard one-reduce anchor corpus build."""
    d = _docs(spark, sf_dir)
    html = _page_html(
        anchor_sql="concat('w', cast((doc_id * 11 + k * 5) % 31 as string))"
    )
    pages = d.select("doc_id", html.alias("html"))
    atags = pages.select(
        F.explode(
            F.expr("regexp_extract_all(html, '<a href=\"[^\"]+\">[^<]+</a>', 0)")
        ).alias("tag")
    )
    pairs = atags.select(
        F.regexp_extract(F.col("tag"), 'href="https://([^/]+)/', 1).alias("dst_host"),
        F.regexp_extract(F.col("tag"), ">([^<]+)</a>", 1).alias("anchor"),
    )
    return pairs.groupBy("dst_host").agg(
        F.count(F.lit(1)).alias("n_inlinks"),
        F.size(F.collect_set("anchor")).alias("n_terms"),
        F.array_join(F.sort_array(F.collect_set("anchor")), "|").alias("anchor_terms"),
    )


ORACLE_ANCHOR_TEXT = """
WITH h AS (
  SELECT doc_id,
         '<html><body><p>' || text || '</p>' ||
         array_to_string(list_transform(range(1, 2 + CAST(doc_id % 3 AS INT)),
           k -> '<a href="https://h' || CAST((doc_id * 7 + k) % 97 AS VARCHAR)
                || '.example.com/p/' || CAST(doc_id AS VARCHAR) || '">w'
                || CAST((doc_id * 11 + k * 5) % 31 AS VARCHAR) || '</a>'), '')
         || '</body></html>' AS html
  FROM documents
), t AS (
  SELECT unnest(regexp_extract_all(html, '<a href="[^"]+">[^<]+</a>')) AS tag
  FROM h
), p AS (
  SELECT regexp_extract(tag, 'href="https://([^/]+)/', 1) AS dst_host,
         regexp_extract(tag, '>([^<]+)</a>', 1) AS anchor
  FROM t
)
SELECT dst_host,
       CAST(count(*) AS BIGINT) AS n_inlinks,
       CAST(count(DISTINCT anchor) AS INT) AS n_terms,
       array_to_string(list_sort(list_distinct(list(anchor))), '|') AS anchor_terms
FROM p
GROUP BY dst_host
"""


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-3 TF-IDF keyword extraction over the corpus: the
    keyword/topic-signature step of a web featurization pipeline.
    Tokenize (JVM split), drop stopwords, explode once; term frequency
    is a partial-agg groupBy on (source, term); document frequency (how
    many sources contain the term) reuses the SAME aggregate via a
    second groupBy on term — no second scan of the corpus. The idf is
    computed in EXACT integer arithmetic (``idf_int = (1e6 * n_groups)
    div df``, score = ``tf * idf_int``) so ranking never depends on a
    float log boundary (the r4 advice item); ties break on term text.
    Top-3 per source goes through the rank-filter shape that compiles to
    WindowGroupLimit (map-local top-k before the final shuffle). At
    100 TB the term-count table is the only big intermediate and it is
    map-side combined; df is a reduce over the already-reduced table."""
    d = _docs(spark, sf_dir)
    stops = F.array(*[F.lit(s) for s in TS.STOPWORDS_EN])
    toks = d.select(
        "source",
        F.explode(
            F.filter(
                TS.tokens(F.col("text")),
                lambda x: ~F.array_contains(stops, x) & x.rlike("^[a-z]+$"),
            )
        ).alias("term"),
    )
    tf = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_groups = 20  # testdata source universe; a count-agg at scale
    scored = tf.join(df_, "term").select(
        "source",
        "term",
        "tf",
        "df",
        (F.col("tf") * F.expr(f"{1000000 * n_groups} div df")).alias("score"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("source", "term", "tf", "df", "score", "rnk")
    )


ORACLE_TFIDF_TERMS = f"""
WITH toks AS (
  SELECT source, unnest(list_filter(string_split(text, ' '),
         x -> x <> '' AND NOT list_contains({_STOPS_SQL}, x)
              AND regexp_matches(x, '^[a-z]+$'))) AS term
  FROM documents
), tf AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY source, term
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.source, tf.term, tf.tf, df.df,
         tf.tf * (20000000 // df.df) AS score
  FROM tf JOIN df USING (term)
), ranked AS (
  SELECT source, term, tf, df, score,
         CAST(row_number() OVER (PARTITION BY source
              ORDER BY score DESC, term ASC) AS INT) AS rnk
  FROM scored
)
SELECT source, term, tf, df, score, rnk FROM ranked WHERE rnk <= 3
"""


def q_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-rate burst detection per entity: flag days where an
    entity's event rate exceeds 2× its own mean daily rate — the
    crawl-ops anomaly signal that drives politeness throttling and
    re-crawl scheduling. Two cheap reduces: a partial-agg groupBy on
    (entity, day) — cardinality entities×days, a massive reduction
    from the raw event volume — then per-entity totals as window
    functions over that already-reduced table. The burst predicate is
    EXACT integer arithmetic (``cnt * n_days > 2 * total`` instead of
    ``cnt > 2 * total/n_days`` in floats), so no boundary day can
    flake on a rounding tie. At 100 TB the first reduce is map-side
    combined and everything after it is negligible."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("user_id")
    return daily.select(
        "user_id",
        "day",
        "cnt",
        F.sum("cnt").over(w).alias("total_cnt"),
        F.count(F.lit(1)).over(w).alias("n_days"),
    ).withColumn(
        "burst", F.col("cnt") * F.col("n_days") > 2 * F.col("total_cnt")
    )


ORACLE_BURST_DETECT = """
WITH daily AS (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT user_id, day, cnt,
         CAST(sum(cnt) OVER (PARTITION BY user_id) AS BIGINT) AS total_cnt,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_days
  FROM daily
)
SELECT user_id, day, cnt, total_cnt, n_days,
       (cnt * n_days > 2 * total_cnt) AS burst
FROM tot
"""


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-storage co-located join — the Iceberg
    bucket-partitioned layout that makes repeated joins and
    aggregations on the same key SHUFFLE-FREE. Both sides are written
    as parquet tables bucketed (8 buckets) and sorted on the join key;
    the sort-merge join then reads bucket i against bucket i directly
    and the downstream groupBy on the same key reuses the layout:
    the executed plan contains ZERO shuffle exchanges
    (mechanically asserted in tests/test_webquality.py). This is the
    100-TB shape for fact⨝dim-by-entity pipelines: pay the
    partitioning once at write time, amortize it over every subsequent
    join/agg on that key. Money sums use the integer-cents discipline
    so the hash never sits on a float-sum ordering boundary.

    The two tables' data lives in the row's scratch dir, and each build
    overwrites the previous one's tables, so a long-lived driver session
    holds one generation of ``sfe_bkt_*`` tables."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    wdir = _scratch("bucketed_join")
    fact, dim = "sfe_bkt_fact", "sfe_bkt_dim"
    cents = F.round(F.col("value") * 100).cast("long")
    # Pre-cluster each side into its 8 buckets (guide §6/§2.6): the
    # fact otherwise bucket-sorts 1M rows inside the ONE single-split
    # scan task (serial write), and the dim's 32 post-agg partitions
    # each spill up to 8 bucket files (up to 256 tiny files). With
    # repartition(8, user_id) — the same murmur3 hash bucketBy uses —
    # every task holds exactly one bucket: 8 parallel sorted writes,
    # 8 files per table, and the join/groupBy read layout is unchanged
    # (the returned plan stays exchange-free, mechanically asserted).
    for name, df in (
        (fact, ev.select("user_id", "event_type", cents.alias("cents"))
            .repartition(8, "user_id")),
        (dim, ev.groupBy("user_id").agg(
            F.countDistinct("event_type").alias("n_types"))
            .repartition(8, "user_id")),
    ):
        (
            df.write.mode("overwrite")
            .option("path", os.path.join(wdir, name))
            .bucketBy(8, "user_id")
            .sortBy("user_id")
            .format("parquet")
            .saveAsTable(name)
        )
    a, b = spark.table(fact), spark.table(dim)
    return (
        a.hint("merge")
        .join(b.hint("merge"), "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
            F.max("n_types").alias("n_types"),
        )
    )


ORACLE_BUCKETED_JOIN = """
WITH fact AS (
  SELECT user_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), dim AS (
  SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
  FROM events GROUP BY user_id
)
SELECT f.user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(f.cents) AS BIGINT) AS sum_cents,
       max(d.n_types) AS n_types
FROM fact f JOIN dim d USING (user_id)
GROUP BY f.user_id
"""


def q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-shard round-trip: render one WARC/1.0 response record per
    document (JVM string expr), pack records into one blob per 50-doc
    shard via the ordered-concat aggregate, then PARSE the blobs back
    with the Arrow-batched record walker (sources/warc.py) — header
    parse, Content-Length BYTE slicing, separator skip. The oracle
    computes the expected (shard, url, n_bytes, payload_md5) directly
    from the source table, so any framing, octet-count, or slicing
    defect breaks the hash. The ingest analog of the reference's
    container decode (reference/datasets/videoset.py:66-103): walk a
    length-framed container, yield records. At 100 TB, WARC files are
    the unit of parallelism and the walk is per-file sequential /
    cross-file embarrassingly parallel — exactly this plan's shape
    (one shuffle to form shards; real crawls skip it, reading WARCs
    as-is)."""
    return W.parse_shards(_warc_shards(spark, sf_dir, W.build_shards))


ORACLE_WARC_PARSE = """
SELECT CAST(doc_id // 50 AS BIGINT) AS shard,
       'https://h' || CAST(doc_id % 97 AS VARCHAR) || '.example.com/p/'
         || CAST(doc_id AS VARCHAR) AS url,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents
"""


def q_warc_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``.warc.gz`` round-trip — the format Common Crawl actually
    ships: every record compressed as an INDEPENDENT gzip member,
    members concatenated per shard (sources/warc.py build_shards_gz),
    then parsed back by inflating one member at a time from
    ``unused_data`` (never a whole-blob decompress — peak memory is one
    record at any shard size). Member-per-record is what keeps a
    compressed 100-TB crawl randomly addressable: a CDX offset + ranged
    read + one-member inflate yields one record. Shares
    ORACLE_WARC_PARSE verbatim — the compression transport must not
    change a parsed byte, so a member-boundary, wbits, or framing bug
    breaks the hash. Reference analog: compressed-container decode,
    reference/datasets/videoset.py:66-103."""
    return W.parse_shards_gz(_warc_shards(spark, sf_dir, W.build_shards_gz))


def _warc_shards(
    spark: SparkSession, sf_dir: str, build: Callable[..., DataFrame]
) -> DataFrame:
    """The corpus as (shard, blob): one WARC/1.0 response record per
    document, packed by ``build`` into 50-document shards in doc order."""
    rec = W.warc_record(_synth_url(), F.col("text"))
    return build(
        _docs(spark, sf_dir), shard=F.expr("doc_id div 50"), order=F.col("doc_id"),
        record=rec,
    )


def _warc_files(files: DataFrame) -> DataFrame:
    """``binaryFile`` rows of ``shard-NNNNN.warc`` files as (shard, blob)."""
    return files.select(
        F.regexp_extract(F.col("path"), r"shard-(\d+)\.warc", 1).cast("long").alias("shard"),
        F.col("content").alias("blob"),
    )


def q_warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION WARC read path: shard blobs land as real FILES on
    disk and are scanned with Spark's ``binaryFile`` source — one file
    per row, NO shuffle to read (the shard-forming aggregate in
    ``warc_parse`` exists only because the sandbox synthesizes shards;
    a real crawl already ships as WARC files). The same
    Content-Length-framed walker (sources/warc.py) parses each file.
    Same oracle as ``warc_parse`` — the transport (groupBy blob vs
    on-disk file) must not change a single parsed byte. At 100 TB this
    is the ingest plan: files are the unit of parallelism, the scan is
    map-only, and the first shuffle in the pipeline belongs to
    whatever operator CONSUMES the records.

    Fixture caveat: the .warc files are written by executor tasks into
    the row's driver-local scratch dir, which is one filesystem ONLY in local
    mode — on a real cluster this fixture step would target shared
    storage (S3/HDFS), while the binaryFile READ path itself is
    storage-agnostic."""
    wdir = _warc_fixture_dir(spark, sf_dir, _scratch("warc_scan"))
    return W.parse_shards(_warc_files(spark.read.format("binaryFile").load(wdir)))


def _warc_fixture_dir(spark: SparkSession, sf_dir: str, base: str) -> str:
    """Materialize the corpus as on-disk ``shard-NNNNN.warc`` files in
    ``base/shards`` (executor tasks write them — no driver collect; a
    real crawl's files already exist, this is fixture construction in
    the crawl's own shape)."""
    wdir = os.path.join(base, "shards")
    os.makedirs(wdir)
    shards = _warc_shards(spark, sf_dir, W.build_shards)

    def _write_files(rows):
        for row in rows:
            path = os.path.join(wdir, f"shard-{row['shard']:05d}.warc")
            with open(path, "wb") as f:
                f.write(bytes(row["blob"]))

    shards.foreachPartition(_write_files)
    return wdir


def q_warc_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 STREAMING WARC ingestion — continuous crawl intake as a
    Structured Streaming job: ``readStream.format("binaryFile")`` over
    the WARC shard directory (files arriving = micro-batches, 3 files
    per trigger), each batch parsed by the same Content-Length-framed
    Arrow walker and APPENDED to the record table. Run to completion
    under ``availableNow`` into parquet and hashed against the SAME
    batch oracle as ``warc_parse``/``warc_scan`` — batch, file-scan,
    and streaming transports of the identical corpus must agree byte
    for byte. Stateless map-only streaming (no watermark needed: every
    record emits exactly once because the file source tracks consumed
    filenames) — the production shape for a crawler that drops WARC
    files onto storage continuously."""
    base = _scratch("warc_streamed")
    wdir = _warc_fixture_dir(spark, sf_dir, base)
    stream = (
        spark.readStream.format("binaryFile")
        # binaryFile's schema is fixed by the source; streaming requires
        # stating it explicitly
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("maxFilesPerTrigger", 3)
        .option("pathGlobFilter", "*.warc")
        .load(wdir)
    )
    records = W.parse_shards(_warc_files(stream))
    out = _run_available_now(records, base)
    return spark.read.parquet(out).select(
        "shard", "url", "n_bytes", "payload_md5"
    )


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl-style CDX index build: for every record, (url,
    shard file, BYTE OFFSET within the shard, record byte length,
    payload digest) — the index that makes a 100-TB WARC corpus
    randomly addressable (fetch one record = one ranged read, no file
    scan). The record length is computed in CLOSED FORM from the WARC
    framing (header template + url octets + digits of Content-Length +
    payload octets + separators) and the offset is a window cumsum of
    those exact integers per shard in doc order — no parse pass over
    the blobs at all. tests/test_webquality.py slices the REAL shard
    blob at (offset, length) and re-parses the slice, proving the
    arithmetic matches the bytes. One shuffle (the per-shard window);
    everything else is map-only JVM arithmetic."""
    d = _docs(spark, sf_dir)
    url = _synth_url()
    n = F.octet_length("text")
    # framing octets: "WARC/1.0\r\n" (10) + "WARC-Type: response\r\n"
    # (21) + "WARC-Target-URI: " (17) + url + "\r\n" (2) +
    # "Content-Length: " (16) + digits(n) + "\r\n\r\n" (4) + n + 4
    rec_len = (
        F.lit(10 + 21 + 17 + 2 + 16 + 4 + 4)
        + F.octet_length(url)
        + F.length(n.cast("string"))
        + n
    ).cast("long")
    base = d.select(
        "doc_id",
        url.alias("url"),
        F.expr("doc_id div 50").alias("shard"),
        rec_len.alias("rec_len"),
        F.md5("text").alias("payload_md5"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return base.select(
        "url",
        F.concat(
            F.lit("shard-"), F.lpad(F.col("shard").cast("string"), 5, "0"), F.lit(".warc")
        ).alias("warc_file"),
        F.coalesce(F.sum("rec_len").over(w), F.lit(0)).cast("long").alias("offset"),
        "rec_len",
        "payload_md5",
    )


ORACLE_CDX_INDEX = """
WITH base AS (
  SELECT doc_id,
         'https://h' || CAST(doc_id % 97 AS VARCHAR) || '.example.com/p/'
           || CAST(doc_id AS VARCHAR) AS url,
         doc_id // 50 AS shard,
         CAST(74 + octet_length(encode('https://h' || CAST(doc_id % 97 AS VARCHAR)
               || '.example.com/p/' || CAST(doc_id AS VARCHAR)))
              + length(CAST(octet_length(encode(text)) AS VARCHAR))
              + octet_length(encode(text)) AS BIGINT) AS rec_len,
         md5(text) AS payload_md5
  FROM documents
)
SELECT url,
       'shard-' || lpad(CAST(shard AS VARCHAR), 5, '0') || '.warc' AS warc_file,
       CAST(coalesce(sum(rec_len) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS offset,
       rec_len,
       payload_md5
FROM base
"""


def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-protocol XML round-trip — the crawl-discovery source
    every frontier seeds from: per host a ``<urlset>`` document is
    serialized (entries in doc order via sorted ordered-concat, ``&``
    entity-escaped per the XML spec), then parsed BACK with Spark's
    built-in ``from_xml`` (JVM StaxXmlParser — no Python in the parse
    path) into typed (url, lastmod, priority DOUBLE) rows. The DuckDB
    oracle recomputes the logical rows directly from the table, so a
    serializer-escaping, schema-mapping, array-explode, or numeric-
    coercion bug in the XML path breaks the hash; every 5th url carries
    a query string with a raw ``&`` to force real entity handling. One
    shuffle (the per-host assembly); parse+explode are map-only — at
    100 TB sitemaps are per-host documents, so the group cardinality is
    the host count, not the page count. Reference analog: dataset
    manifest ingestion (reference/datasets/videoset.py:23-40), with XML
    instead of csv."""
    d = _docs(spark, sf_dir)
    host = (F.col("doc_id") % 97).cast("int")
    qs = F.when(F.col("doc_id") % 5 == 0, F.lit("?a=1&b=2")).otherwise(F.lit(""))
    loc = F.concat(
        F.lit("https://h"), host.cast("string"), F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"), qs,
    )
    lastmod = F.date_format(
        F.date_add(F.to_date(F.lit("2026-01-01")), (F.col("doc_id") % 365).cast("int")),
        "yyyy-MM-dd",
    )
    entry = F.concat(
        F.lit("<url><loc>"),
        F.regexp_replace(loc, "&", "&amp;"),
        F.lit("</loc><lastmod>"), lastmod,
        F.lit("</lastmod><priority>0."), (F.col("doc_id") % 10).cast("string"),
        F.lit("</priority></url>"),
    )
    base = d.select(host.alias("host"), F.struct("doc_id", entry.alias("e")).alias("s"))
    sitemaps = base.groupBy("host").agg(
        F.concat(
            F.lit("<urlset>"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")), lambda s: s.e), ""
            ),
            F.lit("</urlset>"),
        ).alias("xml")
    )
    parsed = sitemaps.select(
        "host",
        F.from_xml(
            "xml", "url ARRAY<STRUCT<loc: STRING, lastmod: STRING, priority: DOUBLE>>"
        ).alias("p"),
    )
    return parsed.select("host", F.explode("p.url").alias("u")).select(
        "host",
        F.col("u.loc").alias("url"),
        F.col("u.lastmod").alias("lastmod"),
        F.col("u.priority").alias("priority"),
    )


ORACLE_SITEMAP_PARSE = """
SELECT CAST(doc_id % 97 AS INT) AS host,
       'https://h' || CAST(doc_id % 97 AS VARCHAR) || '.example.com/p/'
           || CAST(doc_id AS VARCHAR)
           || CASE WHEN doc_id % 5 = 0 THEN '?a=1&b=2' ELSE '' END AS url,
       strftime(DATE '2026-01-01' + CAST(doc_id % 365 AS INT), '%Y-%m-%d') AS lastmod,
       CAST(doc_id % 10 AS DOUBLE) / 10 AS priority
FROM documents
"""


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware crawl scheduling: within each host, order the
    frontier deterministically and assign fetch slots of 5 urls with a
    10-second inter-slot delay — the per-host rate limit every real
    crawler enforces. One shuffle (the per-host window sort); slot and
    offset are exact-integer expressions of row_number, so the hash
    can never sit on a float boundary. At 100 TB hosts are the natural
    partition key and the heaviest host bounds the window's skew —
    the same chunked-window treatment as sessionize applies if one
    host dominates."""
    d = _docs(spark, sf_dir)
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 97).cast("string"), F.lit(".example.com")
    )
    w = Window.partitionBy("host").orderBy("doc_id")
    return (
        d.select("doc_id", host.alias("host"))
        .withColumn("rn", F.row_number().over(w))
        .select(
            "host",
            "doc_id",
            "rn",
            F.expr("(rn - 1) div 5").alias("slot"),
            F.expr("((rn - 1) div 5) * 10").alias("fetch_offset_s"),
        )
    )


ORACLE_CRAWL_SCHEDULE = """
WITH f AS (
  SELECT doc_id,
         'h' || CAST(doc_id % 97 AS VARCHAR) || '.example.com' AS host
  FROM documents
), r AS (
  SELECT host, doc_id,
         CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id) AS INT) AS rn
  FROM f
)
SELECT host, doc_id, rn,
       CAST((rn - 1) // 5 AS BIGINT) AS slot,
       CAST(((rn - 1) // 5) * 10 AS BIGINT) AS fetch_offset_s
FROM r
"""


def q_url_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier construction: urls DISCOVERED via href extraction
    but not yet CRAWLED. Discovered urls are recovered from the raw
    rendered pages with the same regex path as ``link_graph`` (real
    extraction, not a lookup of the synth rule); the crawled set is
    each page's own canonical url; the frontier is a LEFT ANTI join of
    distinct discovered urls against the crawled set, carrying the
    referrer count as crawl-priority signal. Shapes: one map-side
    regex pass, one partial-agg reduce on the discovered url, one
    anti-join keyed on the url — all shuffles keyed on bounded-skew
    url strings. This is the P5 skip-if-done anti-join re-expressed as
    the crawler's core scheduling query."""
    d = _docs(spark, sf_dir)
    pages = d.select("doc_id", _page_html().alias("html"))
    discovered = (
        pages.select(
            F.explode(
                F.expr("regexp_extract_all(html, '<a href=\"([^\"]+)\"', 1)")
            ).alias("url")
        )
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n_referrers"))
    )
    crawled = d.select(_synth_url().alias("url"))
    return discovered.join(crawled, "url", "left_anti")


ORACLE_URL_FRONTIER = """
WITH e AS (
  SELECT doc_id, k,
         'https://h' || CAST((doc_id * 7 + k) % 97 AS VARCHAR)
           || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents, LATERAL unnest(range(1, 2 + CAST(doc_id % 3 AS INT))) AS t(k)
), disc AS (
  SELECT url, CAST(count(*) AS BIGINT) AS n_referrers FROM e GROUP BY url
), crawled AS (
  SELECT 'https://h' || CAST(doc_id % 97 AS VARCHAR) || '.example.com/p/'
         || CAST(doc_id AS VARCHAR) AS url
  FROM documents
)
SELECT d.url, d.n_referrers
FROM disc d ANTI JOIN crawled c ON d.url = c.url
"""


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt compliance with LONGEST-MATCH rule resolution (the
    Google robots spec: the most specific matching rule wins; on a
    length tie, Allow beats Disallow). A deterministic per-host rule
    table is synthesized (host%3==0: disallow /p/1 prefix; host%3==1:
    disallow /p/ but allow /p/2 — the allow-overrides-disallow case;
    host%3==2: no rules), joined to the crawl frontier on host —
    a BROADCAST join, robots corpora are tiny next to the crawl —
    prefix-matched with startswith, and resolved per url by the
    rank-filter shape (longest prefix first, Allow on ties) that
    compiles to WindowGroupLimit. Pages matching no rule are allowed
    (left join + coalesce). At 100 TB: rules broadcast, pages stream
    map-side through match+rank; the only wide exchange is the per-url
    window, keyed on the url (unskewed by construction)."""
    d = _docs(spark, sf_dir)
    pages = d.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string")).alias("host"),
        F.concat(F.lit("/p/"), F.col("doc_id").cast("string")).alias("path"),
    )
    hosts = spark.range(97).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        (F.col("id") % 3).alias("m"),
    )
    rules = hosts.select(
        "host",
        F.explode(
            F.when(F.col("m") == 0, F.array(F.struct(F.lit("/p/1").alias("prefix"), F.lit(False).alias("allow"))))
            .when(
                F.col("m") == 1,
                F.array(
                    F.struct(F.lit("/p/").alias("prefix"), F.lit(False).alias("allow")),
                    F.struct(F.lit("/p/2").alias("prefix"), F.lit(True).alias("allow")),
                ),
            )
            .otherwise(F.array().cast("array<struct<prefix:string,allow:boolean>>"))
        ).alias("r"),
    ).select("host", F.col("r.prefix").alias("prefix"), F.col("r.allow").alias("allow"))
    matched = pages.join(F.broadcast(rules), "host").filter(
        F.col("path").startswith(F.col("prefix"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.length("prefix").desc(), F.col("allow").desc()
    )
    best = (
        matched.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("prefix").alias("matched_rule"), F.col("allow").alias("rule_allow"))
    )
    return (
        pages.join(best, "doc_id", "left")
        .select(
            "doc_id",
            "host",
            "path",
            F.coalesce("matched_rule", F.lit("")).alias("matched_rule"),
            F.coalesce("rule_allow", F.lit(True)).alias("allowed"),
        )
    )


ORACLE_ROBOTS_FILTER = """
WITH pages AS (
  SELECT doc_id,
         'h' || CAST(doc_id % 97 AS VARCHAR) AS host,
         '/p/' || CAST(doc_id AS VARCHAR) AS path
  FROM documents
), rules AS (
  SELECT 'h' || CAST(id AS VARCHAR) AS host, '/p/1' AS prefix, FALSE AS allow
  FROM range(97) t(id) WHERE id % 3 = 0
  UNION ALL
  SELECT 'h' || CAST(id AS VARCHAR), '/p/', FALSE FROM range(97) t(id) WHERE id % 3 = 1
  UNION ALL
  SELECT 'h' || CAST(id AS VARCHAR), '/p/2', TRUE FROM range(97) t(id) WHERE id % 3 = 1
), matched AS (
  SELECT p.doc_id, r.prefix, r.allow,
         row_number() OVER (PARTITION BY p.doc_id
             ORDER BY length(r.prefix) DESC, r.allow DESC) AS rk
  FROM pages p JOIN rules r
    ON p.host = r.host AND starts_with(p.path, r.prefix)
)
SELECT p.doc_id, p.host, p.path,
       coalesce(m.prefix, '') AS matched_rule,
       coalesce(m.allow, TRUE) AS allowed
FROM pages p LEFT JOIN (SELECT * FROM matched WHERE rk = 1) m
  ON p.doc_id = m.doc_id
"""


def q_funnel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-funnel observability: per-source retention counts
    through the cleaning cascade (raw → Gopher rules → first-occurrence
    exact dedup → both), the accounting every production corpus build
    publishes alongside its output. Flags are computed once in a single
    pass; the dedup stage is the Lee-et-al. first-occurrence-wins rule
    (row_number over the content fingerprint, ordered by doc_id). Two
    shuffles total: the fingerprint window and the per-source partial
    agg — both keyed on high-cardinality / bounded keys. All counts
    are exact integers; at 100 TB this runs as a side output of the
    cleaning job itself, not a separate scan."""
    d = _docs(spark, sf_dir)
    keep = TS.gopher_rules(F.col("text"))["keep"]
    flagged = d.select(
        "doc_id", "source", keep.alias("keep"), F.md5("text").alias("fp")
    )
    wfp = Window.partitionBy("fp").orderBy("doc_id")
    staged = flagged.withColumn("uniq", F.row_number().over(wfp) == 1)
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.col("keep").cast("long")).alias("n_gopher"),
        F.sum(F.col("uniq").cast("long")).alias("n_unique"),
        F.sum((F.col("keep") & F.col("uniq")).cast("long")).alias("n_final"),
    )


ORACLE_FUNNEL_STATS = f"""
WITH b AS (
  SELECT doc_id, source, md5(text) AS fp,
    len(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
    length(replace(text, ' ', '')) AS chars,
    len(list_filter(string_split(text, ' '),
        x -> list_contains({_STOPS_SQL}, x))) AS stops,
    len(list_filter(string_split(text, ' '),
        x -> x <> '' AND regexp_matches(x, '[A-Za-z]'))) AS alpha
  FROM documents
), s AS (
  SELECT doc_id, source,
    (w >= 30 AND w <= 100000 AND chars >= 4 * w AND chars <= 10 * w
     AND 5 * alpha >= 4 * w AND stops >= 2) AS keep,
    (row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1) AS uniq
  FROM b
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_raw,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher,
       CAST(sum(CASE WHEN uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(sum(CASE WHEN keep AND uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_final
FROM s
GROUP BY source
"""


# --- Table maintenance: CDC merge / SCD2 history / compaction plan ---
# The north star's substrate is an Iceberg table at 10^12 rows; these
# are the maintenance kernels (operators/maintenance.py): MERGE INTO as
# a co-partitioned full-outer join, SCD2 point-in-time snapshots, and
# binpack compaction planning over manifest metadata.

_CDC_T = "2024-01-16 00:00:00"


def _cdc_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a CDC change log: purchase = delete tombstone, anything
    else upserts the user's value. round(,6) so the double crossing the
    two engines hashes identically."""
    op = F.when(F.col("event_type") == "purchase", F.lit("D")).otherwise(F.lit("U"))
    return _ev(spark, sf_dir).select(
        "user_id", "ts", "event_id", op.alias("op"),
        F.round("value", 6).alias("value"),
    )


def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE INTO as a plan: base = per-user state at T (latest
    pre-T op, absent if it was a delete), changes = the post-T log
    compacted to latest-per-key, reconciled by ONE full-outer join on
    the key. Deleted keys are retained with NULL value + action='delete'
    so merge accounting is visible. Natural inserts arise from users
    whose last pre-T op was a tombstone. On an Iceberg bucket layout
    both sides arrive bucketed by user_id and the join is zero-shuffle
    (the bucketed_join row demonstrates the layout)."""
    log = _cdc_log(spark, sf_dir)
    t = F.lit(_CDC_T).cast("timestamp")
    pre = log.filter(F.col("ts") < t)
    base = (
        MT._latest_per_key(pre, ["user_id"], ["ts", "event_id"])
        .filter(F.col("op") != "D")
        .select("user_id", "value")
    )
    changes = log.filter(F.col("ts") >= t)
    return MT.cdc_merge(base, changes, ["user_id"], ["ts", "event_id"])


ORACLE_CDC_MERGE = f"""
WITH log AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
         round(value, 6) AS value
  FROM events
),
base AS (
  SELECT user_id, value FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM log WHERE ts < TIMESTAMP '{_CDC_T}')
  WHERE rn = 1 AND op <> 'D'
),
chg AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM log WHERE ts >= TIMESTAMP '{_CDC_T}')
  WHERE rn = 1
)
SELECT COALESCE(b.user_id, c.user_id) AS user_id,
       CASE WHEN c.op = 'D' THEN NULL
            WHEN c.op IS NOT NULL THEN c.value
            ELSE b.value END AS value,
       CASE WHEN c.op = 'D' THEN 'delete'
            WHEN c.op IS NOT NULL AND b.user_id IS NOT NULL THEN 'update'
            WHEN c.op IS NOT NULL THEN 'insert'
            ELSE 'unchanged' END AS action
FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
"""


def q_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history + point-in-time snapshot: every event opens a
    version of the user's value valid until the next event; the snapshot
    selects the version effective at T. The interval build is one window
    sort per key (lead/row_number/count share it); the snapshot is a
    filter — partition-prunable on a valid_from-partitioned layout.
    The temporal-leakage guarantee in reverse: reconstruct exactly what
    was visible at T, nothing later."""
    log = _ev(spark, sf_dir).select(
        "user_id", "ts", "event_id", F.round("value", 6).alias("value")
    )
    hist = MT.scd2_intervals(log, ["user_id"], "ts", "event_id", ["value"])
    snap = MT.scd2_snapshot(hist, _CDC_T)
    return snap.select("user_id", "value", "valid_from", "version", "n_versions")


ORACLE_ASOF_SNAPSHOT = f"""
WITH h AS (
  SELECT user_id, round(value, 6) AS value, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS INT) AS version,
         count(*) OVER (PARTITION BY user_id) AS n_versions
  FROM events
)
SELECT user_id, value, valid_from, version, n_versions
FROM h
WHERE valid_from <= TIMESTAMP '{_CDC_T}'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_CDC_T}')
"""


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binpack compaction planning over file metadata: documents stand
    in for a manifest listing (file id = doc_id, size = n_chars, table
    partition = source); files join the bin holding their cumulative
    predecessor bytes, so bins fill to >= target before a new one opens.
    One cumulative window per partition over METADATA-scale rows — at a
    10^12-row table this reads the manifest, not the data."""
    files = _docs(spark, sf_dir).select(
        "source", "doc_id", F.col("n_chars").alias("sz")
    )
    return MT.compaction_plan(
        files, ["source"], "doc_id", "sz", target_bytes=4000
    )


ORACLE_COMPACTION_PLAN = """
WITH binned AS (
  SELECT source, doc_id, n_chars,
         CAST(floor(COALESCE(sum(n_chars) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 4000.0) AS BIGINT) AS bin_id
  FROM documents
)
SELECT source, bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_chars) AS BIGINT) AS bytes,
       min(doc_id) AS first_file,
       max(doc_id) AS last_file
FROM binned
GROUP BY source, bin_id
"""


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-containment near-dup (C(src→dst) = |S∩| / |S(src)|
    >= 0.5) — the asymmetric companion to dedup_jaccard: catches a
    snippet contained in the article it quotes when symmetric Jaccard is
    tiny. Same sub-quadratic inverted-index candidate shape; both
    directions scored from one intersection count."""
    return DD.containment_pairs(_docs(spark, sf_dir), threshold=0.5)


ORACLE_DEDUP_CONTAINMENT = f"""
WITH {_SHINGLE_CAPPED_CTE},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b USING (shingle) WHERE a.id < b.id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c JOIN sh a ON c.id_a = a.id JOIN sh b ON c.id_b = b.id
  WHERE a.shingle = b.shingle
  GROUP BY c.id_a, c.id_b
),
scored AS (
  SELECT id_a AS id_src, id_b AS id_dst,
         round(CAST(i AS DOUBLE) / sa.sz, 6) AS containment
  FROM inter JOIN sizes sa ON inter.id_a = sa.id
  UNION ALL
  SELECT id_b, id_a, round(CAST(i AS DOUBLE) / sb.sz, 6)
  FROM inter JOIN sizes sb ON inter.id_b = sb.id
)
SELECT id_src, id_dst, containment FROM scored WHERE containment >= 0.5
"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout planning over events on (user bucket,
    day-of-year): interleave the two dimensions' bits JVM-side
    (``maintenance.zorder_key`` — pure codegen arithmetic, no UDF),
    assign contiguous z-ranges to files, and emit each file's min/max
    column stats — the manifest entries a scan prunes on. The win over
    a single-column sort: BOTH dimensions get tight per-file spans, so
    predicates on either column skip files. One map-side-combined
    groupBy; at 10^12 rows this is the layout pass of an Iceberg
    ``rewrite_data_files(sort_order => zorder(...))``."""
    ev = _ev(spark, sf_dir)
    x = (F.col("user_id") % 256).cast("long")
    y = (F.dayofyear("ts") % 256).cast("long")
    out = MT.zorder_layout(ev, x, y, bits=8, rows_per_file_shift=6)
    return out.select(
        F.col("file_id").cast("long").alias("file_id"),
        "n_rows",
        F.col("min_x").cast("long").alias("min_x"),
        F.col("max_x").cast("long").alias("max_x"),
        F.col("min_y").cast("long").alias("min_y"),
        F.col("max_y").cast("long").alias("max_y"),
    )


def _zorder_oracle() -> str:
    z = MT.zorder_key_sql("x", "y", bits=8)
    return f"""
WITH dims AS (
  SELECT CAST(user_id % 256 AS BIGINT) AS x,
         CAST(dayofyear(ts) % 256 AS BIGINT) AS y
  FROM events
),
keyed AS (SELECT x, y, ({z}) AS z FROM dims)
SELECT CAST(z >> 6 AS BIGINT) AS file_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(x) AS min_x, max(x) AS max_x,
       min(y) AS min_y, max(y) AS max_y
FROM keyed GROUP BY 1
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term → (exact df, exact total tf, posting
    list truncated to the first 20 doc ids) — the retrieval-side
    artifact of a web corpus (bm25_topk scores against exactly this
    structure). Exact stats come from the map-side-combinable counts
    over the full term×doc table; the POSTING LIST goes through the
    rank≤k filter that compiles to WindowGroupLimit, so each map task
    pre-prunes to its local top-20 BEFORE the shuffle and no
    stopword's corpus-wide posting list is ever assembled — the
    truncated (impact-ordered-index-style) head plus exact counts is
    what early-termination retrieval actually stores at scale.
    Postings serialize as comma-joined sorted ids: deterministic, and
    the compare hashes strings instead of engine-specific array
    encodings."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(
            F.filter(TS.tokens(F.col("text")), lambda x: x.rlike("^[a-z]+$"))
        ).alias("term"),
    )
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("tf_total")
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    posts = (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .groupBy("term")
        .agg(
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias(
                "postings"
            )
        )
    )
    return stats.join(posts, "term").select("term", "df", "tf_total", "postings")


ORACLE_INVERTED_INDEX = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
         x -> x <> '' AND regexp_matches(x, '^[a-z]+$'))) AS term
  FROM documents
),
tf AS (
  SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id
),
stats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(tf) AS BIGINT) AS tf_total
  FROM tf GROUP BY term
),
top AS (
  SELECT term, doc_id FROM (
    SELECT term, doc_id,
           row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
    FROM tf)
  WHERE rn <= 20
),
posts AS (
  SELECT term, array_to_string(list_sort(list(doc_id)), ',') AS postings
  FROM top GROUP BY term
)
SELECT term, df, tf_total, postings FROM stats JOIN posts USING (term)
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document → overlapping training windows: 40-token chunks at
    stride 32 (8-token overlap), one row per chunk with its position —
    the doc-to-example conversion feeding ``sequence_pack``. The token
    array is materialized behind a projection alias and referenced by
    both size() and slice() (the multiply-referenced-alias barrier of
    NOTES #12, so the split never re-evaluates per chunk);
    ``explode_outer`` keeps ``InferFiltersFromGenerate`` from
    re-inlining the tokenizer into a scan-level filter (NOTES #13).
    Map-only — chunking shuffles nothing; every doc, even empty, yields
    its chunk 0 so downstream accounting sees the full corpus."""
    from slowfast_feature_extractor_spark.operators.windows import chunk_tokens

    d = _docs(spark, sf_dir)
    ch = chunk_tokens(
        d, "doc_id", TS.tokens(F.col("text")), window=40, stride=32
    )
    return ch.select(
        "doc_id",
        "chunk_id",
        F.array_join("chunk", " ").alias("chunk_text"),
        "chunk_len",
    )


def _chunk_sql(source_rel: str, text_expr: str, text_alias: str) -> str:
    """The 40/32 chunking CTEs + final SELECT over ``source_rel`` (any
    relation providing doc_id, text) — single SQL source of truth for
    every oracle that replays ``chunk_tokens`` (doc_chunks,
    training_prep). ``text_expr`` renders the chunk (use ``{{chunk}}``
    for the joined chunk string)."""
    chunk = "array_to_string(list_slice(toks, start + 1, start + 40), ' ')"
    return f"""base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM {source_rel}
),
sized AS (SELECT doc_id, toks, len(toks) AS n FROM base),
ch AS (
  SELECT doc_id, toks, n,
         unnest(range(0, greatest(n - 1, 0) + 1, 32)) AS start
  FROM sized
)
SELECT doc_id, CAST(start // 32 AS INT) AS chunk_id,
       {text_expr.format(chunk=chunk)} AS {text_alias},
       CAST(least(n - start, 40) AS INT) AS chunk_len
FROM ch"""


ORACLE_DOC_CHUNKS = f"WITH {_chunk_sql('documents', '{chunk}', 'chunk_text')}"


def q_cdc_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 STREAMING CDC upsert: the events change log (purchase =
    delete tombstone, else upsert — same encoding as ``cdc_merge``)
    replayed as two time-ordered file-stream micro-batches through
    ``streaming/cdc_stream.apply_cdc_stream`` — a foreachBatch fold
    that MERGEs each batch into a VERSIONED state table (immutable
    ``v{batch_id}`` commits; crash-replay of a batch folds into the
    same predecessor version, the Iceberg idempotent-commit contract).
    Final state = latest non-deleted value per key, whatever the batch
    boundaries: per-batch latest-per-key compaction composed over
    time-ordered batches equals the global latest-per-key, so the
    DuckDB oracle is one window over the whole log."""
    from slowfast_feature_extractor_spark.streaming.cdc_stream import (
        apply_cdc_stream,
        read_state,
    )

    log = _cdc_log(spark, sf_dir)
    t = F.lit(_CDC_T).cast("timestamp")
    base = _scratch("cdc_streamed")
    stream = _replay(
        spark, base,
        "user_id long, ts timestamp, event_id long, op string, value double",
        log.filter(F.col("ts") < t), log.filter(F.col("ts") >= t),
    )
    state_dir = os.path.join(base, "state")
    apply_cdc_stream(
        stream,
        state_dir,
        os.path.join(base, "ckpt"),
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_cols=["value"],
    )
    return read_state(spark, state_dir).select("user_id", "value")


ORACLE_CDC_STREAMED = """
WITH log AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
         round(value, 6) AS value
  FROM events
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM log)
  WHERE rn = 1
)
SELECT user_id, value FROM latest WHERE op <> 'D'
"""


def q_props_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured COLUMN parsing: the events ``props`` JSON string
    goes through JVM-side ``from_json`` (JsonToStructs — whole-stage
    codegen, no Python) with typed schema extraction and corrupt-row
    tolerance: rows with event_id ≡ 0 (mod 17) are deterministically
    mangled to invalid JSON before parsing, and PERMISSIVE from_json
    yields NULL fields for them instead of failing the scan — the
    column-level twin of ``jsonl_scan``'s file-level quarantine (the
    only survivable posture when some shard of 10^12 rows always
    carries torn payloads). Per event_type: parse accounting + exact
    integer stats over the extracted field. Map-only until one
    map-side-combinable groupBy on a tiny key domain.

    The scan is parallelize_scan-wrapped (r7): from_json at ~3 us/row
    is the dominant cost and on the single-split fixture it ran inside
    the ONE scan task — JsonToStructs partial-aggregated 1M rows on one
    core while 31 idled (measured 5.2 s -> 0.6 s at the sf1.0 proxy)."""
    ev = parallelize_scan(spark.read.parquet(f"{sf_dir}/events.parquet"))
    mangled = F.when(
        F.col("event_id") % 17 == 0, F.concat(F.lit("{bad:"), F.col("props"))
    ).otherwise(F.col("props"))
    k = F.from_json(mangled, "k INT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("k").alias("n_parsed"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_PROPS_PARSE = """
WITH c AS (
  SELECT event_type,
         CASE WHEN event_id % 17 = 0 THEN '{bad:' || props
              ELSE props END AS p
  FROM events
),
parsed AS (
  SELECT event_type,
         CASE WHEN json_valid(p)
              THEN CAST(json_extract_string(p, '$.k') AS INT) END AS k
  FROM c
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(k) AS BIGINT) AS n_parsed,
       CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k,
       max(k) AS max_k
FROM parsed GROUP BY event_type
"""


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training kernel: corpus-wide adjacent-symbol pair
    counts (Sennrich et al. 2016) — the statistic every merge round of
    BPE training maximizes, here at character level over lowercase
    word tokens (repeats counted: a pair's count is its corpus
    frequency, not document frequency). Global top-20 by count with
    full lexical tie-break via orderBy+limit, which compiles to
    TakeOrderedAndProject — per-partition top-k then a driver-side
    merge of k-row heads, never a single-partition window. The pair
    key domain is ≤ |alphabet|², so the count shuffle is tiny after
    map-side combine regardless of corpus size; a full training loop
    re-runs this plan per merge with the winning pair fused (driver
    loop, like pagerank2's rounds)."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        F.explode(
            F.filter(
                TS.tokens(F.col("text")),
                lambda x: x.rlike("^[a-z]{2,}$"),
            )
        ).alias("term")
    )
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(term) - 1), i -> substring(term, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(20)
    )


ORACLE_BPE_PAIRS = """
WITH toks AS (
  SELECT unnest(list_filter(string_split(text, ' '),
         x -> regexp_matches(x, '^[a-z]{2,}$'))) AS term
  FROM documents
),
pairs AS (
  SELECT unnest(list_transform(range(1, length(term)),
                i -> substring(term, i, 2))) AS pair
  FROM toks
)
SELECT pair, CAST(count(*) AS BIGINT) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair ASC
LIMIT 20
"""


def q_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 via Spark's NATIVE session windows: ``F.session_window(ts,
    '30 minutes')`` in a plain groupBy — the JVM built-in that the
    engine's other sessionizers complement (window-scan `sessionize`,
    skew-chunked `sessionize(chunk=)`, stateful-streaming
    `sessionize_streamed`). No Python anywhere; Spark merges
    overlapping windows in a post-shuffle sort pass per key.

    Boundary convention documented: session_window windows are
    [ts, ts+gap), so a revisit at EXACTLY the gap starts a new session
    (gap >= 30 min splits) — one tick different from `sessionize`'s
    strict `gap > threshold` split; the oracle encodes >= so the hash
    pins the native semantics, and `session_end` = last event + gap
    (the window end), not the last event itself."""
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_cents").alias("sum_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_cents",
        )
    )


ORACLE_SESSIONIZE_NATIVE = f"""
{_gap_sessions('>=')}
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(value_cents) AS BIGINT) AS sum_cents
FROM s GROUP BY user_id, session_idx
"""


def q_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile pruning — "keep the top 30% by quality score
    per domain", the selection step that follows scoring in a corpus
    pipeline (quality_classifier/dsir_score produce the score; this row
    applies the per-group cutoff). percent_rank needs the full group
    (unlike rank≤k there is no WindowGroupLimit pre-prune), so the cost
    is ONE window sort per source partition — the per-domain
    sessionize-class shape, with the same skew answer (a pathological
    mega-domain goes through the chunked machinery or a two-pass
    approx-quantile cutoff). The rank is (rank-1)/(n-1): an exact
    rational both engines evaluate with one IEEE division, and the
    doc_id tiebreak makes every rank unique, so the 0.3 boundary cannot
    flake."""
    d = _docs(spark, sf_dir)
    scored = d.select(
        "doc_id", "source", TS.quality_score(F.col("text")).alias("q")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("q").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") <= 0.3)
        .select("doc_id", "source", "q", F.round("pr", 6).alias("pr"))
    )


ORACLE_QUALITY_PRUNE = f"""
WITH b AS (
  SELECT doc_id, source,
    len(list_filter(string_split(text, ' '), x -> x <> '')) AS tok_cnt,
    len(list_filter(string_split(text, ' '),
        x -> list_contains({_STOPS_SQL}, x))) AS stop_cnt,
    length(replace(text, ' ', '')) AS chars
  FROM documents
),
m AS (
  SELECT doc_id, source,
    round(least(tok_cnt / 200.0, 1.0) * 0.4
      + (CASE WHEN tok_cnt > 0 THEN CAST(stop_cnt AS DOUBLE) / tok_cnt
              ELSE 0.0 END) * 0.3
      + least((CASE WHEN tok_cnt > 0 THEN CAST(chars AS DOUBLE) / tok_cnt
               ELSE 0.0 END) / 8.0, 1.0) * 0.3, 6) AS q
  FROM b
),
r AS (
  SELECT doc_id, source, q,
         percent_rank() OVER (PARTITION BY source
                              ORDER BY q DESC, doc_id ASC) AS pr
  FROM m
)
SELECT doc_id, source, q, round(pr, 6) AS pr FROM r WHERE pr <= 0.3
"""


# The driver's correctness gate caps at 50 rows, and dict order decides
# who is in it. r6 rotation, final session: at 151 rows the cap is
# spent ENTIRELY on rows with no driver-hash evidence — 49 never-
# checked r6 rows (incl. the late-session maintenance/retrieval/
# chunking/join/similarity rows) plus knn_ivf, whose r5 check was
# rows-only and whose oracle is new this round. The two planned
# r3-staleness re-checks (union_set_ops, except_ops — trivial set ops
# over unchanged fixtures) yielded their slots, and dedup_url is the
# one never-checked row the 50-cap cannot fit (idx 50, r7 lead):
# never-checked beats stale-checked for the canonical CORRECTNESS
# signal. Everything displaced (changed-decode JPEG rows, the
# r4/r5-green backlog) is locally oracle-replayed by
# tests/test_queries_oracle.py on every tree — they lead the r7
# rotation, freshest evidence last.
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    # --- last green r3: lead the rotation ---
    "interval_join": (q_interval_join, ORACLE_INTERVAL_JOIN),
    "dedup_tfidf_cosine": (q_dedup_tfidf_cosine, ORACLE_DEDUP_TFIDF_COSINE),
    "quantile_sketch": (q_quantile_sketch, ORACLE_QUANTILE_SKETCH),
    # --- never hash-checked (new in r6; knn_ivf oracle is new) ---
    "multimodal_gif": (q_multimodal_gif, _mm_gif_oracle()),
    "multimodal_png_palette": (q_multimodal_png_palette, ORACLE_MM_PNG_PALETTE),
    "multimodal_png_adam7": (q_multimodal_png_adam7, _mm_png_oracle(8)),
    "multimodal_png16": (q_multimodal_png16, _mm_png_oracle(16)),
    "charset_detect": (q_charset_detect, ORACLE_CHARSET_DETECT),
    "decontaminate_bloom": (q_decontaminate_bloom, ORACLE_DECONTAMINATE),
    "normalize_text": (q_normalize_text, ORACLE_NORMALIZE_TEXT),
    "sitemap_parse": (q_sitemap_parse, ORACLE_SITEMAP_PARSE),
    "warc_gzip": (q_warc_gzip, ORACLE_WARC_PARSE),
    "heavy_hitters": (q_heavy_hitters, ORACLE_HEAVY_HITTERS),
    "dedup_winnow": (q_dedup_winnow, ORACLE_DEDUP_WINNOW),
    "c4_filter": (q_c4_filter, ORACLE_C4_FILTER),
    "token_count": (q_token_count, ORACLE_TOKEN_COUNT),
    "lm_bigram_score": (q_lm_bigram_score, ORACLE_LM_BIGRAM_SCORE),
    "quality_classifier": (q_quality_classifier, ORACLE_QUALITY_CLASSIFIER),
    "redirect_resolve": (q_redirect_resolve, ORACLE_REDIRECT_RESOLVE),
    "bm25_topk": (q_bm25_topk, ORACLE_BM25_TOPK),
    "mixture_weights": (q_mixture_weights, ORACLE_MIXTURE_WEIGHTS),
    "dedup_canonical": (q_dedup_canonical, _dedup_canonical_oracle()),
    "knn_ivfpq": (q_knn_ivfpq, _knn_ivfpq_oracle()),
    "knn_ivfpq_ivf": (q_knn_ivfpq_ivf, _knn_ivfpq_oracle(n_cells=8)),
    "audio_spectral": (q_audio_spectral, ORACLE_AUDIO_SPECTRAL),
    "multimodal_jpeg_lossless": (q_multimodal_jpeg_lossless,
                                 ORACLE_MULTIMODAL_JPEG_LOSSLESS),
    "stream_join": (q_stream_join, ORACLE_STREAM_JOIN),
    "distinct_sketch": (q_distinct_sketch, ORACLE_DISTINCT_SKETCH),
    "weighted_sample": (q_weighted_sample, ORACLE_WEIGHTED_SAMPLE),
    "collocations": (q_collocations, ORACLE_COLLOCATIONS),
    "boilerplate_filter": (q_boilerplate_filter, ORACLE_BOILERPLATE_FILTER),
    "jsonl_scan": (q_jsonl_scan, ORACLE_JSONL_SCAN),
    "orc_scan": (q_orc_scan, ORACLE_ORC_SCAN),
    "dedup_spans": (q_dedup_spans, ORACLE_DEDUP_SPANS),
    "multimodal_jpeg_420": (q_multimodal_jpeg_420, ORACLE_MM_JPEG_420),
    "pit_dual_rate_auto": (q_pit_dual_rate_auto, ORACLE_PIT_DUAL_RATE),
    "knn_ivf": (q_knn_ivf, ORACLE_KNN_IVF),
    "cdc_merge": (q_cdc_merge, ORACLE_CDC_MERGE),
    "asof_snapshot": (q_asof_snapshot, ORACLE_ASOF_SNAPSHOT),
    "compaction_plan": (q_compaction_plan, ORACLE_COMPACTION_PLAN),
    "dedup_containment": (q_dedup_containment, ORACLE_DEDUP_CONTAINMENT),
    "zorder_layout": (q_zorder_layout, _zorder_oracle()),
    "inverted_index": (q_inverted_index, ORACLE_INVERTED_INDEX),
    "doc_chunks": (q_doc_chunks, ORACLE_DOC_CHUNKS),
    "cdc_streamed": (q_cdc_streamed, ORACLE_CDC_STREAMED),
    "props_parse": (q_props_parse, ORACLE_PROPS_PARSE),
    "bpe_pairs": (q_bpe_pairs, ORACLE_BPE_PAIRS),
    "sessionize_native": (q_sessionize_native, ORACLE_SESSIONIZE_NATIVE),
    "quality_prune": (q_quality_prune, ORACLE_QUALITY_PRUNE),
    "training_prep": (q_training_prep, _training_prep_oracle()),
    "dedup_url": (q_dedup_url, _dedup_url_oracle()),
    "union_set_ops": (q_union_set_ops, ORACLE_UNION_SET_OPS),
    "except_ops": (q_except_ops, ORACLE_EXCEPT_OPS),
    # --- r5-green but decode path changed this round ---
    "multimodal_jpeg_prog": (q_multimodal_jpeg_prog, _mm_jpeg_oracle(True)),
    "multimodal_video": (q_multimodal_video, _mm_video_oracle()),
    # --- last green r4; code-touched-this-round rows first ---
    "multimodal_jpeg": (q_multimodal_jpeg, _mm_jpeg_oracle(False)),
    "knn_bruteforce": (q_knn_bruteforce, ORACLE_KNN_BRUTEFORCE),
    "knn_ivf_fullprobe": (q_knn_ivf_fullprobe, ORACLE_KNN_BRUTEFORCE),
    "pit_dual_rate": (q_pit_dual_rate, ORACLE_PIT_DUAL_RATE),
    "pit_dual_rate_chunked": (q_pit_dual_rate_chunked, ORACLE_PIT_DUAL_RATE),
    "anti_join_resume": (q_anti_join_resume, ORACLE_ANTI_JOIN_RESUME),
    "asof_join": (q_asof_join, _oracle_asof(">=")),
    "content_regions": (q_content_regions, ORACLE_CONTENT_REGIONS),
    "crawl_diff": (q_crawl_diff, ORACLE_CRAWL_DIFF),
    "decontaminate": (q_decontaminate, ORACLE_DECONTAMINATE),
    "dedup_clusters": (q_dedup_clusters, ORACLE_DEDUP_CLUSTERS),
    "dedup_embedding": (q_dedup_embedding, ORACLE_DEDUP_EMBEDDING),
    "dedup_embedding_lsh": (q_dedup_embedding_lsh, ORACLE_DEDUP_EMBEDDING_LSH),
    "dedup_incremental": (q_dedup_incremental, ORACLE_DEDUP_INCREMENTAL),
    "dedup_minhash_lsh": (q_dedup_minhash, ORACLE_DEDUP_MINHASH),
    "dedup_streamed": (q_dedup_streamed, ORACLE_DEDUP_STREAMED),
    "distinct_counts": (q_distinct_counts, ORACLE_DISTINCT_COUNTS),
    "doc_repetition": (q_doc_repetition, ORACLE_DOC_REPETITION),
    "domain_rollup": (q_domain_rollup, ORACLE_DOMAIN_ROLLUP),
    "dual_rate_streamed": (q_dual_rate_streamed, ORACLE_DUAL_RATE_STREAMED),
    "featurize_pages_chunked": (q_featurize_pages_chunked, ORACLE_FEATURIZE_PAGES),
    "featurize_sessions": (q_featurize_sessions, ORACLE_FEATURIZE_SESSIONS),
    "knn_lsh": (q_knn_lsh, ORACLE_KNN_LSH),
    "lm_unigram_score": (q_lm_unigram_score, ORACLE_LM_UNIGRAM_SCORE),
    "manifest_scan": (q_manifest_scan, ORACLE_MANIFEST_SCAN),
    "multimodal_audio": (q_multimodal_audio, ORACLE_MULTIMODAL_AUDIO),
    "multimodal_frames": (q_multimodal_frames, ORACLE_MULTIMODAL_FRAMES),
    "multimodal_image": (q_multimodal_image, _image_oracle(_MM_IMAGE_DIMS, "24", _mm_rgb)),
    "multimodal_meta": (q_multimodal_meta, ORACLE_MULTIMODAL_META),
    "multimodal_png": (q_multimodal_png, _mm_png_oracle(8)),
    "pagerank2": (q_pagerank2, ORACLE_PAGERANK2),
    "pivot_event_values": (q_pivot_event_values, ORACLE_PIVOT_EVENT_VALUES),
    "resample_series": (q_resample_series, ORACLE_RESAMPLE_SERIES),
    "sequence_pack": (q_sequence_pack, ORACLE_SEQUENCE_PACK),
    "sessionize_chunked": (q_sessionize_chunked, ORACLE_SESSIONIZE),
    "sessionize_streamed": (q_sessionize_streamed, ORACLE_SESSIONIZE_STREAMED),
    "span_sample": (q_span_sample, ORACLE_SPAN_SAMPLE),
    "sql_pricing_summary": (q_sql_pricing_summary, ORACLE_SQL_PRICING_SUMMARY),
    "time_range_window": (q_time_range_window, ORACLE_TIME_RANGE_WINDOW),
    "window_dual_rate": (q_window_dual_rate, ORACLE_WINDOW_DUAL_RATE),
    "window_dual_rate_chunked": (q_window_dual_rate_chunked, ORACLE_WINDOW_DUAL_RATE),
    "window_tri_rate": (q_window_tri_rate, ORACLE_WINDOW_TRI_RATE),
    "json_export": (q_json_export, ORACLE_JSON_EXPORT),
    # --- overflow (positions 51+): 5 stable r4-green rows lead r7 ---
    "url_canonicalize": (q_url_canonicalize, ORACLE_URL_CANONICALIZE),
    "hash_split": (q_hash_split, ORACLE_HASH_SPLIT),
    "corpus_shuffle": (q_corpus_shuffle, ORACLE_CORPUS_SHUFFLE),
    "pii_redact": (q_pii_redact, ORACLE_PII_REDACT),
    "stratified_sample": (q_stratified_sample, ORACLE_STRATIFIED_SAMPLE),
    # --- r5-green (freshest driver evidence) ---
    "accuracy_per_class": (q_accuracy_per_class, ORACLE_ACCURACY_PER_CLASS),
    "anchor_text": (q_anchor_text, ORACLE_ANCHOR_TEXT),
    "asof_join_strict": (q_asof_join_strict, _oracle_asof(">")),
    "asof_join_tolerance": (q_asof_join_tolerance, ORACLE_ASOF_TOLERANCE),
    "backfill": (q_backfill, ORACLE_BACKFILL),
    "broadcast_dim_join": (q_broadcast_dim_join, ORACLE_BROADCAST_DIM_JOIN),
    "bucketed_join": (q_bucketed_join, ORACLE_BUCKETED_JOIN),
    "burst_detect": (q_burst_detect, ORACLE_BURST_DETECT),
    "cdx_index": (q_cdx_index, ORACLE_CDX_INDEX),
    "corpus_clean": (q_corpus_clean, _corpus_clean_oracle()),
    "crawl_schedule": (q_crawl_schedule, ORACLE_CRAWL_SCHEDULE),
    "dedup_clusters_star": (q_dedup_clusters_star, ORACLE_DEDUP_CLUSTERS),
    "dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "dedup_incremental_indexed": (q_dedup_incremental_indexed, ORACLE_DEDUP_INCREMENTAL),
    "dedup_jaccard": (q_dedup_jaccard, ORACLE_DEDUP_JACCARD),
    "dedup_minhash_oph": (q_dedup_minhash_oph, _minhash_oph_oracle()),
    "dedup_passages": (q_dedup_passages, ORACLE_DEDUP_PASSAGES),
    "dedup_semantic": (q_dedup_semantic, ORACLE_DEDUP_SEMANTIC),
    "dedup_simhash": (q_dedup_simhash, _simhash_oracle()),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, _simhash_pairs_oracle()),
    "dsir_score": (q_dsir_score, ORACLE_DSIR_SCORE),
    "extract_text": (q_extract_text, ORACLE_EXTRACT_TEXT),
    "featurize_pages": (q_featurize_pages, ORACLE_FEATURIZE_PAGES),
    "fingerprint": (q_fingerprint, ORACLE_FINGERPRINT),
    "funnel_stats": (q_funnel_stats, ORACLE_FUNNEL_STATS),
    "gopher_filter": (q_gopher_filter, ORACLE_GOPHER_FILTER),
    "group_weights": (q_group_weights, ORACLE_GROUP_WEIGHTS),
    "grouping_sets": (q_grouping_sets, ORACLE_GROUPING_SETS),
    "host_meta_filter": (q_host_meta_filter, ORACLE_HOST_META_FILTER),
    "key_parse": (q_key_parse, ORACLE_KEY_PARSE),
    "lag_lead": (q_lag_lead, ORACLE_LAG_LEAD),
    "langid": (q_langid, ORACLE_LANGID),
    "link_graph": (q_link_graph, ORACLE_LINK_GRAPH),
    "margin_entropy": (q_margin_entropy, ORACLE_MARGIN_ENTROPY),
    "part_supplier_revenue": (q_part_supplier_revenue, ORACLE_PART_SUPPLIER_REVENUE),
    "pushdown_scan": (q_pushdown_scan, ORACLE_PUSHDOWN_SCAN),
    "rater_agreement": (q_rater_agreement, ORACLE_RATER_AGREEMENT),
    "robots_filter": (q_robots_filter, ORACLE_ROBOTS_FILTER),
    "session_stats": (q_session_stats, ORACLE_SESSION_STATS),
    "sessionize": (q_sessionize, ORACLE_SESSIONIZE),
    "text_quality": (q_text_quality, ORACLE_TEXT_QUALITY),
    "tfidf_terms": (q_tfidf_terms, ORACLE_TFIDF_TERMS),
    "topk_per_group": (q_topk_per_group, ORACLE_TOPK_PER_GROUP),
    "url_frontier": (q_url_frontier, ORACLE_URL_FRONTIER),
    "value_percentiles": (q_value_percentiles, ORACLE_VALUE_PERCENTILES),
    "warc_parse": (q_warc_parse, ORACLE_WARC_PARSE),
    "warc_scan": (q_warc_scan, ORACLE_WARC_PARSE),
    "warc_streamed": (q_warc_streamed, ORACLE_WARC_PARSE),
}


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
