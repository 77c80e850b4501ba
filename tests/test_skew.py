"""Skew robustness: a hot entity with ~100× the revisits of the rest
must produce correct windows and spread across salted buckets."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from conftest import SF_TINY
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.operators.sessionize import sessionize
from slowfast_feature_extractor_spark.operators.windows import dual_rate_features
from slowfast_feature_extractor_spark.plans.featurize import (
    pit_dual_rate_from,
    salted_buckets,
)


@pytest.fixture(scope="module")
def skewed(spark):
    t0 = datetime(2024, 1, 1)
    hot = [("hot", t0 + timedelta(minutes=i), float(i)) for i in range(5000)]
    cold = [
        (f"cold{u}", t0 + timedelta(hours=i), float(i))
        for u in range(200)
        for i in range(10)
    ]
    return spark.createDataFrame(
        hot + cold, schema="url string, warc_ts timestamp, value double"
    )


def test_hot_entity_windows_correct(spark, skewed):
    out = dual_rate_features(skewed, fast_rows=8, slow_rows=64, strict=True)
    hot = out.filter(F.col("url") == "hot")
    assert hot.count() == 5000
    # window counts saturate correctly on the hot key
    sat = hot.filter(F.col("slow_cnt") == 64).count()
    assert sat == 5000 - 64
    last = hot.orderBy(F.col("warc_ts").desc()).limit(1).collect()[0]
    # last row's fast window = values 4991..4998
    assert last["fast_avg"] == pytest.approx(sum(range(4991, 4999)) / 8)
    assert last["n_hist_rows"] == 4999


def test_salted_buckets_spread_hot_key(spark, skewed):
    b = salted_buckets(skewed, key="url", buckets=16)
    # deterministic: the same url lands in one bucket per salt...
    per_bucket = b.filter(F.col("url") == "hot").select("bucket").distinct().count()
    assert per_bucket == 1
    # ...but adding the timestamp to the salt spreads the hot entity for
    # embarrassingly-parallel stages (extraction etc.)
    spread = skewed.withColumn(
        "bucket", F.pmod(F.xxhash64("url", "warc_ts"), F.lit(16)).cast("int")
    )
    n = spread.filter(F.col("url") == "hot").select("bucket").distinct().count()
    assert n == 16


_FEATS = (
    "fast_avg", "fast_sum", "fast_min", "fast_max", "fast_cnt",
    "slow_avg", "slow_sum", "slow_min", "slow_max", "slow_cnt",
    "n_hist_rows", "max_input_ts",
)


def _chunk(unit, ts="ts"):
    return None if unit is None else F.date_trunc(unit, F.col(ts))


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_TINY}/events.parquet").withColumn(
        "value_cents", F.round(F.col("value") * 100).cast("long")
    )


def _bruteforce_dual_rate(rows, fast_rows, slow_rows):
    """Strict trailing windows per user, ordered by (ts, event_id), by a
    sequential scan — integer cents keep every sum and average exact."""
    from collections import defaultdict

    per_user = defaultdict(list)
    for r in rows:
        per_user[r["user_id"]].append(r)
    out = {}
    for u, evs in per_user.items():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        vals = [r["value_cents"] for r in evs]
        for i, r in enumerate(evs):
            feats = []
            for k in (fast_rows, slow_rows):
                win = vals[max(0, i - k):i]
                feats += ([sum(win) / len(win), sum(win), min(win), max(win)]
                          if win else [None] * 4) + [len(win)]
            feats += [i, evs[i - 1]["ts"] if i else None]
            out[(u, r["ts"], r["event_id"])] = tuple(feats)
    return out


@pytest.mark.parametrize("unit", [None, "day", "month"])
def test_chunked_windows_equal_single_partition(spark, events, unit):
    """dual_rate_features, plain or range-partition-with-carry, equals a
    sequential brute force exactly on real fixture data; the chunked plan
    keeps every input column, like the plain one."""
    out = dual_rate_features(
        events, entity="user_id", ts="ts", measure="value_cents",
        fast_rows=8, slow_rows=64, strict=True, tiebreak="event_id",
        chunk=_chunk(unit),
    )
    assert out.columns == events.columns + list(_FEATS)
    got = {(r["user_id"], r["ts"], r["event_id"]): tuple(r[c] for c in _FEATS)
           for r in out.collect()}
    want = _bruteforce_dual_rate(events.collect(), 8, 64)
    assert len(got) == len(want) > 0
    assert got == want


def test_chunked_windows_split_hot_entity(spark, skewed):
    """The hot entity's window work runs partitioned by (entity, chunk):
    correctness holds and the plan partitions on the chunked key."""
    out = dual_rate_features(
        skewed, entity="url", ts="warc_ts", measure="value",
        fast_rows=8, slow_rows=64, strict=True, chunk=F.to_date("warc_ts"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__chunk" in plan and "hashpartitioning(url" in plan
    hot = out.filter(F.col("url") == "hot")
    assert hot.filter(F.col("slow_cnt") == 64).count() == 5000 - 64
    last = hot.orderBy(F.col("warc_ts").desc()).limit(1).collect()[0]
    assert last["fast_avg"] == pytest.approx(sum(range(4991, 4999)) / 8)
    assert last["n_hist_rows"] == 4999


def test_chunked_dual_rate_rejects_fast_above_slow(skewed):
    """The carry holds slow_rows rows, which must bound every frame."""
    with pytest.raises(ValueError, match="carry bound"):
        dual_rate_features(skewed, fast_rows=9, slow_rows=8, chunk=F.to_date("warc_ts"))


@pytest.mark.parametrize("exact", [True, False])
def test_chunked_asof_equals_unchunked(spark, exact):
    """asof_join(chunk=day) == asof_join, exactly, both tie semantics."""
    from pyspark.sql import functions as F

    from slowfast_feature_extractor_spark.operators.asof_join import asof_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "value_cents", F.round(F.col("value") * 100).cast("long")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value_cents").alias("view_cents")
    )

    def rows(chunk):
        out = asof_join(
            clicks, views, on="ts", by=("user_id",),
            right_cols=["view_cents"], allow_exact_matches=exact,
            matched_ts_col="view_ts", chunk=chunk,
        )
        return sorted(
            (r.user_id, str(r.ts), r.event_id, str(r.view_ts), r.view_cents)
            for r in out.collect()
        )

    want = rows(None)
    got = rows(F.to_date(F.col("ts")))
    assert len(got) == len(want) > 0
    assert got == want
    # carries matter: some click must match a view from an earlier day
    cross_day = [r for r in rows(F.to_date(F.col("ts")))
                 if r[3] != "None" and r[3][:10] != r[1][:10]]
    assert cross_day, "fixture has no cross-chunk matches; chunk test vacuous"


def _bruteforce_sessions(rows, gap_s):
    from collections import defaultdict

    per_user = defaultdict(list)
    for r in rows:
        per_user[r["user_id"]].append(r)
    out = {}
    for u, evs in per_user.items():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        idx = 0
        for i, r in enumerate(evs):
            if i == 0 or (r["ts"] - evs[i - 1]["ts"]).total_seconds() > gap_s:
                idx += 1
            out[(u, r["event_id"])] = (idx, f"{u}#{idx}")
    return out


@pytest.mark.parametrize("chunk_expr", [None, "day", "month"])
def test_sessionize_chunked_exact_parity(spark, events, chunk_expr):
    """sessionize, plain or chunked, equals a sequential brute force on
    every row — including sessions that span chunk boundaries."""
    out = sessionize(events, entity="user_id", ts="ts", gap_seconds=1800.0,
                     tiebreak="event_id", chunk=_chunk(chunk_expr))
    got = {(r["user_id"], r["event_id"]): (r["session_idx"], r["session_id"])
           for r in out.collect()}
    assert got == _bruteforce_sessions(events.collect(), 1800.0)
    assert out.columns == events.columns + ["session_idx", "session_id"]


def test_sessionize_chunked_boundary_session(spark):
    """Crafted case: one session straddles a day-chunk boundary (gap
    below threshold across midnight) — the index must NOT restart."""
    import pandas as pd

    rows = [
        ("u1", "2024-01-01 23:50:00", 1),
        ("u1", "2024-01-02 00:05:00", 2),  # 15 min gap, crosses midnight
        ("u1", "2024-01-02 09:00:00", 3),  # new session (gap > 30 min)
        ("u2", "2024-01-01 10:00:00", 4),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "ts", "event_id"])
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    for unit in (None, "day", "month"):
        got = {r["event_id"]: r["session_idx"] for r in sessionize(
            df, entity="user_id", ts="ts", gap_seconds=1800.0,
            tiebreak="event_id", chunk=_chunk(unit)).collect()}
        # midnight-straddling session intact; u2 numbers its own sessions
        assert got == {1: 1, 2: 1, 3: 2, 4: 1}, unit


def _pit_matches_oracle(spark, fn):
    from slowfast_feature_extractor_spark.plans.compare import compare
    from slowfast_feature_extractor_spark.plans.queries import (
        ORACLE_PIT_DUAL_RATE,
        _ev,
    )

    ok, msg = compare(spark, SF_TINY, lambda s, d: fn(_ev(s, d)), ORACLE_PIT_DUAL_RATE)
    assert ok, msg


@pytest.mark.parametrize("unit", [None, "day", "month"])
def test_pit_flagship_fully_chunked_parity(spark, unit):
    """The events flagship with every entity-sequential stage chunked
    (sessionize + both dual-rate window families + as-of) matches the
    DuckDB oracle row-for-row, like the plain plan."""
    _pit_matches_oracle(spark, lambda ev: pit_dual_rate_from(ev, chunk_trunc=unit))


def test_pit_flagship_auto_chunk_dispatch(spark, events):
    """VERDICT r5 #2: chunk_trunc="auto" engages the chunk-carry
    machinery only above the hot-entity threshold — plain plan on the
    uniform fixture, chunked plan when the threshold is forced down to
    fixture scale, both value-exact."""

    def plan(df):
        return df._jdf.queryExecution().toString()

    # the chunk-carry machinery's fingerprint is the __chunk key column
    auto_plain = pit_dual_rate_from(events, chunk_trunc="auto")  # uniform corpus
    assert "__chunk" not in plan(auto_plain)
    auto_chunked = pit_dual_rate_from(events, chunk_trunc="auto",
                                      auto_chunk_threshold=2)  # forced skew arm
    assert "__chunk" in plan(auto_chunked)
    for threshold in (50_000, 2):
        _pit_matches_oracle(spark, lambda ev: pit_dual_rate_from(
            ev, chunk_trunc="auto", auto_chunk_threshold=threshold))


@pytest.mark.parametrize("unit", [None, "day", "month"])
def test_pit_flagship_tied_views_take_latest_event_id(spark, unit):
    """Two views at the same ts: every click at or after them matches the
    latest by (ts, event_id), the oracle's as-of order. Hand-computed:
    view 3's strictly-earlier views are 1 and 2 (500 + 100 cents)."""
    from datetime import datetime, timedelta

    # the later clicks fall in the next day and month: under chunking
    # their match arrives through the as-of carry
    t0 = datetime(2024, 1, 31, 23, 59, 45)
    s = timedelta(seconds=1)
    rows = [
        (1, t0, 7, "view", 5.0),
        (2, t0 + 10 * s, 7, "view", 1.0),
        (3, t0 + 10 * s, 7, "view", 3.0),
        (4, t0 + 10 * s, 7, "click", 0.0),
        (5, t0 + 20 * s, 7, "click", 0.0),
        (6, t0 + 20 * s, 7, "click", 0.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).withColumn("value_cents", F.round(F.col("value") * 100).cast("long"))
    out = pit_dual_rate_from(ev, chunk_trunc=unit).collect()
    got = {r["event_id"]: (r["view_ts"], r["slow_view_avg"], r["slow_view_cnt"])
           for r in out}
    assert got == {e: (t0 + 10 * s, 300.0, 2) for e in (4, 5, 6)}


def test_chunked_dual_rate_parity_with_null_ts_rows(spark):
    """Rows with null ts (null chunk) sort NULLS FIRST in the plain
    operator; the chunked fold must treat the null chunk as the
    entity's EARLIEST chunk (pandas groupby would silently drop it)."""
    import datetime as dt

    rows = [("u", None, 1.0), ("u", None, 2.0)] + [
        ("u", dt.datetime(2024, 1, 1 + d, 12, 0, 0), float(d)) for d in range(6)
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, value double")
    kw = dict(entity="url", ts="warc_ts", measure="value", fast_rows=2, slow_rows=4)
    want = sorted((tuple(r) for r in dual_rate_features(df, **kw).collect()), key=str)
    for unit in ("day", "month"):
        chunked = dual_rate_features(df, chunk=_chunk(unit, "warc_ts"), **kw)
        got = sorted((tuple(r) for r in chunked.collect()), key=str)
        assert got == want, unit


def test_shuffle_partition_count_tolerates_auto(spark):
    """'auto' (AQE-managed platforms; OSS Spark refuses to even set it,
    so a duck-typed session stands in) must not crash plan composition;
    a numeric conf passes through unchanged."""
    from slowfast_feature_extractor_spark.operators.skew import (
        shuffle_partition_count,
    )

    class _Conf:
        def get(self, key, default=None):
            return "auto"

    class _SC:
        defaultParallelism = 8

    class _FakeSpark:
        conf = _Conf()
        sparkContext = _SC()

    assert shuffle_partition_count(_FakeSpark()) == 8
    n = shuffle_partition_count(spark)  # real session: numeric conf
    assert n == int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_sessionize_chunked_resessionize_no_duplicate_columns(spark):
    """Re-sessionizing an already-sessionized frame REPLACES the
    index/session columns (plain-sessionizer parity) instead of
    emitting ambiguous duplicates."""
    import datetime as dt

    rows = [
        ("u", dt.datetime(2024, 1, 1, 0, 0), 1),
        ("u", dt.datetime(2024, 1, 1, 3, 0), 2),
        ("u", dt.datetime(2024, 1, 2, 0, 0), 3),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, event_id long")
    day = F.to_date("warc_ts")
    once = sessionize(
        df, entity="url", ts="warc_ts", gap_seconds=3600.0, tiebreak="event_id",
        chunk=day,
    )
    again = sessionize(
        once, entity="url", ts="warc_ts", gap_seconds=7200.0, tiebreak="event_id",
        chunk=day,
    )
    assert again.columns == once.columns
    # gaps 3 h and 21 h both exceed 2 h: three sessions
    assert {(r["event_id"], r["session_idx"]) for r in again.collect()} == {
        (1, 1), (2, 2), (3, 3)
    }
    # the filter that used to raise AMBIGUOUS_REFERENCE
    assert again.filter(F.col("session_idx") >= 0).count() == 3


def test_chunk_carries_jvm_matches_bruteforce(spark):
    """r7 focused test: the pure-JVM chunk_carries (sorted tail array +
    per-chunk filter/slice) must emit EXACTLY the rows a sequential
    brute-force fold produces — for every (entity, chunk k): copies of
    the last `slow_rows` rows of the entity's history before chunk k,
    relabelled to chunk k. Random dense/sparse entities, deterministic
    seed, unique (entity, ts) keys."""
    import random
    from datetime import datetime, timedelta

    from slowfast_feature_extractor_spark.operators.skew import chunk_carries

    rng = random.Random(7)
    t0 = datetime(2024, 1, 1)
    rows = []
    for u in range(12):
        n = rng.choice([1, 2, 5, 40, 300])
        step_h = rng.choice([1, 7, 26])  # dense..sparse vs day chunks
        for i in range(n):
            rows.append((f"u{u}", t0 + timedelta(hours=i * step_h), float(i)))
    df = spark.createDataFrame(
        rows, schema="url string, warc_ts timestamp, value double"
    )
    slow_rows = 5
    base = df.withColumn("__chunk", F.to_date(F.col("warc_ts")))
    got = {
        (r["url"], str(r["__chunk"]), str(r["warc_ts"]), r["value"])
        for r in chunk_carries(base, "url", ["warc_ts"], slow_rows).collect()
    }

    # brute force: per entity, iterate chunks ascending; carry = last
    # slow_rows rows of the full prior history
    from collections import defaultdict

    per_ent = defaultdict(list)
    for u, ts, v in rows:
        per_ent[u].append((ts, v))
    want = set()
    for u, evs in per_ent.items():
        evs.sort()
        chunks = sorted({ts.date() for ts, _ in evs})
        for c in chunks:
            prior = [(ts, v) for ts, v in evs if ts.date() < c]
            for ts, v in prior[-slow_rows:]:
                want.add((u, str(c), str(ts), v))
    assert got == want and len(want) > 0


def _null_key_arms(spark, op):
    """(plain, day-chunked) outputs of ``op`` on one NULL-keyed entity
    with 2 events on each of 3 days, next to one keyed entity."""
    import datetime as dt

    from slowfast_feature_extractor_spark.plans.featurize import featurize_pages

    rows = [
        (user, dt.datetime(2024, 1, 1 + d, 12, 10 * i), 10 * d + i + (user is None) * 100)
        for user in (None, "u")
        for d in range(3)
        for i in range(2)
    ]
    ev = spark.createDataFrame(rows, "user_id string, ts timestamp, event_id long")
    if op == "sessionize":
        def run(unit):
            return sessionize(ev, entity="user_id", ts="ts", gap_seconds=1800.0,
                              tiebreak="event_id", chunk=_chunk(unit))
    elif op == "dual_rate_features":
        def run(unit):
            return dual_rate_features(
                ev, entity="user_id", ts="ts", measure="event_id", fast_rows=2,
                slow_rows=4, tiebreak="event_id", chunk=_chunk(unit),
            )
    else:
        pages = ev.select(
            F.col("user_id").alias("url"), F.col("ts").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.repeat(F.lit("x"), F.col("event_id").cast("int")).alias("text"),
            F.lit("en").alias("lang"),
        )

        def run(unit):
            return featurize_pages(pages, fast_rows=2, slow_rows=4, fast_len=2,
                                   slow_len=2, chunk_trunc=unit)

    def rows_of(df):
        return sorted(
            (tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()),
            key=str,
        )

    return rows_of(run(None)), rows_of(run("day"))


@pytest.mark.parametrize("op", ["sessionize", "dual_rate_features", "featurize_pages"])
def test_chunked_arm_keeps_null_entity_running_counts(spark, op):
    """A NULL entity is one entity in the plain arm's window; the chunked
    arm must carry its running count (session index, n_hist_rows) across
    chunks too, not restart it in every chunk after the first."""
    plain, chunked = _null_key_arms(spark, op)
    assert len(plain) == 12
    assert chunked == plain
