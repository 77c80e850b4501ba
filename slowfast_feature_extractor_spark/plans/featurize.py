"""End-to-end feature plans.

``featurize_pages`` is the flagship pipeline over the ``pages`` table
(FIXTURES.md §1): scan → HTML→text extraction (Arrow UDF) → dual-rate
trailing windows → fixed-length resample → as-of fusion → features —
the Spark-first restatement of the reference's scan → decode → dual-rate
sample → forward → save loop (reference/test_net.py:314-421).

``pit_dual_rate_events`` is the same shape over the driver's ``events``
table (used by ``__spark_entry__.entry`` and the DuckDB correctness
gate).

Scale strategy (SURVEY.md §4): ONE ``repartitionByRange(entity, ts)`` +
in-partition sort feeds every window family (the analog of the reference
extracting low/mid/deep features from a single forward pass) — Spark
reuses the sort across window specs with identical partitioning/ordering,
so the whole temporal stage is a single Exchange. Embarrassingly-parallel
stages (extraction, per-row projections) run before that shuffle and can
be salted into buckets (``salted_buckets``) when hot entities skew the
scan; the as-of stage itself must stay entity-partitioned (salting would
break the time ordering within an entity).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window, WindowSpec
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.functions.extraction import extract_text_udf
from slowfast_feature_extractor_spark.functions.vector import resample_udf
from slowfast_feature_extractor_spark.operators.asof_join import asof_join
from slowfast_feature_extractor_spark.operators.sessionize import sessionize
from slowfast_feature_extractor_spark.operators.skew import carry_window
from slowfast_feature_extractor_spark.operators.windows import dual_rate_features
from slowfast_feature_extractor_spark.sources.tables import ScanStats, scan_stats

# no finer than featurize_pages' day anchors (see _windowed)
_CHUNK_TRUNCS = ("day", "week", "month", "year")


def _plan_is_bare_scan(df: DataFrame) -> bool:
    """True when the analyzed logical plan contains no row-MULTIPLYING
    node — no Join, Generate (explode), or Union. Parquet footer totals
    are a valid upper bound on the row count only then: joins multiply
    rows, explodes fan out, and ``inputFiles()`` deduplicates a
    self-union's files so footers under-count it (ADVICE r4). Filters /
    projections only shrink the count, so the footer bound stays
    conservative through them."""
    import re

    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    # every node that can EMIT MORE ROWS than its child: joins
    # (LateralJoin spelled out — \bJoin\b does not match inside it),
    # explode (Generate), unions, cube/rollup (Expand), sampling with
    # replacement (Sample), and arbitrary-cardinality Python stages
    # (MapInPandas / FlatMap*) — footer totals bound none of these
    return not re.search(
        r"\b(Join|LateralJoin|Generate|Union|Expand|Sample|MapInPandas"
        r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|MapInArrow)\b",
        plan,
    )


def _hot_entity_sketch(stats: ScanStats, entity: str) -> float | None:
    """DRIVER-side hot-entity estimate with ZERO Spark jobs: read the
    ``entity`` column of parquet row groups spread evenly across the
    footers :func:`scan_stats` read (every file up to 256, an even
    stride of files above), then scale the sample's max multiplicity
    by ``stats.rows``/sampled (capped at ``stats.rows``).

    The sampled units are chosen up front from the full unit list —
    never by reading in file order until a row budget fills, which
    would confine the sample to the scan's head and blind the sketch
    to hot entities living elsewhere. Known bias (documented, not
    fixable by a cluster sample): on an entity-SORTED layout a sampled
    row group is a contiguous run, so multiplicity × total/sampled can
    overestimate — the penalty is choosing the chunked plan on a
    uniform corpus (a bounded perf premium, BENCH/SKEW.md), never a
    wrong answer; both plans are value-exact."""
    units, total = stats.units, stats.rows
    if not units:
        return None
    try:
        # pick the sample SET first — k units evenly strided across the
        # whole list, k sized so expected rows ≈ 200k — then read all of
        # it (no early break: coverage must span the entire scan)
        avg = max(1, sum(u[2] for u in units) // len(units))
        k = max(1, min(len(units), 200_000 // avg))
        stride = max(1, len(units) // k)
        chosen = units[::stride][:k]

        from collections import Counter

        counts: Counter = Counter()
        sampled = 0
        for path, rg, _ in chosen:
            col = stats.read_column(path, rg, entity)
            counts.update(col.to_pylist())
            sampled += len(col)
        if not sampled:
            return None
        return min(float(total), counts.most_common(1)[0][1] * (total / sampled))
    except Exception:
        return None


# bounded memo for the composed-plan fallback's exact count, keyed on
# the plan's semantic hash. CAVEAT: the hash covers the PLAN, not the
# data — appending to the same path between compositions serves the
# pre-append decision (both plans stay value-exact; only the perf
# choice can go stale). Call clear_chunk_decision_cache() after
# rewriting a table in place, or pass chunk_trunc explicitly.
_EAGER_DECISION_CACHE: dict[int, str | None] = {}
_EAGER_DECISION_CACHE_MAX = 256


def clear_chunk_decision_cache() -> None:
    """Drop memoized auto-chunk decisions (see cache caveat above)."""
    _EAGER_DECISION_CACHE.clear()


def auto_chunk_decision(
    df: DataFrame, entity: str = "url", threshold: int = 50_000
) -> str | None:
    """Chooser between the plain and chunked temporal plans (VERDICT r3
    #6): ``"day"`` when the hottest entity holds at least ``threshold``
    rows (one task would otherwise serialize its whole history — the
    regime where chunking bought 2.1×/4× in BENCH/SKEW.md), else
    ``None`` (the plain plan is ~2.7× cheaper on uniform corpora).

    Cost discipline (VERDICT r4 #6): for a BARE SCAN (no Join/Generate/
    Union — the flagship's input shape) the decision runs ZERO Spark
    jobs at ANY input size: parquet footers bound the total below
    ``threshold``, else a driver-side pyarrow row-group sample estimates
    the hot entity (:func:`_hot_entity_sketch`), both from one
    :func:`scan_stats` footer pass. Composing a plan never silently
    executes a corpus scan. For composed plans (footers can
    under-count a join/explode/union, ADVICE r4) one exact column-pruned
    groupBy count runs, memoized on the plan's semantic hash so repeated
    composition pays once — prefer passing ``chunk_trunc`` explicitly
    there. Either outcome is value-exact; the choice is performance-only."""
    if _plan_is_bare_scan(df):
        stats = scan_stats(df)
        if stats.rows is not None:
            if stats.rows < threshold:
                return None
            hot = _hot_entity_sketch(stats, entity)
            if hot is not None:
                return "day" if hot >= threshold else None
    try:
        plan_key = int(df._jdf.queryExecution().analyzed().semanticHash())
    except Exception:
        plan_key = hash(df._jdf.queryExecution().analyzed().toString())
    key = hash((plan_key, entity, threshold))
    if key not in _EAGER_DECISION_CACHE:
        hot = (
            df.select(entity)
            .groupBy(entity)
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(F.max("__c"))
            .first()[0]
        )
        if len(_EAGER_DECISION_CACHE) >= _EAGER_DECISION_CACHE_MAX:
            _EAGER_DECISION_CACHE.pop(next(iter(_EAGER_DECISION_CACHE)))
        _EAGER_DECISION_CACHE[key] = (
            "day" if hot is not None and hot >= threshold else None
        )
    return _EAGER_DECISION_CACHE[key]


def _resolve_chunk_trunc(
    chunk_trunc: str | None, df: DataFrame, entity: str, threshold: int, hot: str
) -> str | None:
    """``chunk_trunc`` as a trunc unit or None (the plain plan):
    ``"auto"`` becomes ``hot`` when :func:`auto_chunk_decision` finds an
    entity with at least ``threshold`` rows, else None."""
    if chunk_trunc == "auto":
        return hot if auto_chunk_decision(df, entity, threshold) else None
    if chunk_trunc is not None and chunk_trunc not in _CHUNK_TRUNCS:
        raise ValueError(
            f"chunk_trunc must be None, 'auto' or one of {_CHUNK_TRUNCS}, "
            f"got {chunk_trunc!r}"
        )
    return chunk_trunc


def salted_buckets(
    df: DataFrame, key: str = "url", buckets: int = 32, salt: int = 0, col: str = "bucket"
) -> DataFrame:
    """Deterministic salted bucket id for embarrassingly-parallel stages
    over skewed keys (hot urls). NOT for window/as-of stages — those need
    the whole entity in one partition."""
    return df.withColumn(
        col, F.pmod(F.xxhash64(F.col(key), F.lit(salt)), F.lit(buckets)).cast("int")
    )


def featurize_pages(
    pages: DataFrame,
    fast_rows: int = 32,
    slow_rows: int = 64,
    fast_len: int = 32,
    slow_len: int = 8,
    tiebreak: str | None = None,
    chunk_trunc: str | None = "auto",
    auto_chunk_threshold: int = 50_000,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → features(url, warc_ts,
    slow_vec, fast_vec, fused_vec, n_hist_rows, max_input_ts).

    - text: extracted from html via the Arrow UDF when null (byte-
      identical to the oracle extractor);
    - measure: extracted-text length (deterministic integer);
    - fast_vec: trailing ``fast_rows`` strictly-earlier measures,
      resampled to ``fast_len`` (the reference's dense pathway,
      reference/test_net.py:62-67);
    - slow_vec: computed only at coarse anchors (first snapshot of each
      (url, day)) over ``slow_rows`` history resampled to ``slow_len``
      (sparse pathway, reference/test_net.py:69-74), then attached to
      every row by the as-of join (pathway fusion,
      reference/test_net.py:144);
    - fused_vec: slow‖fast (order per reference/models/head_helper.py:19),
      zero-filled when no anchor history exists
      (reference/datasets/videoset.py:194-196);
    - zero leakage: both windows end at 1 PRECEDING and anchors satisfy
      anchor_ts <= warc_ts, so every contributing row is strictly
      earlier; ``max_input_ts`` carries the audit bound;
    - determinism: (url, warc_ts) is the natural key of a crawl-snapshot
      table; when the input cannot guarantee uniqueness, pass
      ``tiebreak`` (a column name) to make every window frame
      well-defined under duplicate timestamps;
    - skew: ``chunk_trunc`` (``"day" | "week" | "month" | "year"``)
      switches the temporal stage to range-partition-with-carry;
      the ``"auto"`` default picks via :func:`auto_chunk_decision`
      (chunked iff some entity holds ≥ ``auto_chunk_threshold`` rows),
      ``None`` forces the plain plan
      (operators/skew.py) so a million-revisit url parallelizes across
      its time chunks instead of serializing through one task — the
      reference's one-video-one-unit assumption is exactly what breaks
      at 100× (SURVEY §4). Values are EXACTLY equal to the unchunked
      plan (parity-tested); requires ``fast_rows <= slow_rows`` and a
      chunk no finer than the day anchors (so every chunk's first real
      row is an anchor and the slow-pathway carry-forward never has to
      cross a chunk boundary).
    """
    # Stage 1 (embarrassingly parallel): extraction UDF evaluated EXACTLY
    # once per row — the plan below never branches before this point, so
    # Catalyst cannot duplicate the expensive Python stage.
    keep = ["url", "warc_ts"] + ([tiebreak] if tiebreak else [])
    text = F.coalesce(F.col("text"), extract_text_udf(F.col("html")))
    df = pages.select(*keep, F.length(text).cast("double").alias("measure"))

    # Stage 2: the temporal stage. Plain path: ONE hash partition on url
    # + ONE in-partition sort serves every window family below (fast
    # frame, slow frame, history bounds, anchor detection, and the
    # inlined as-of carry-forward) — the analog of the reference
    # extracting all feature depths from a single forward pass
    # (reference/just_test_v1.py:544-583). Chunked path: the same family
    # over (url, time-chunk) partitions with a ≤ slow_rows-row carry.
    order = ["warc_ts"] + ([tiebreak] if tiebreak else [])
    chunk_trunc = _resolve_chunk_trunc(
        chunk_trunc, pages, "url", auto_chunk_threshold, "day"
    )
    if chunk_trunc is not None:
        # the chunked path branches df three ways (carry extraction,
        # prefix counts, merged window pass); persist the thin post-UDF
        # projection so the extraction UDF honours the Stage-1
        # evaluated-EXACTLY-once invariant instead of re-running per
        # branch (pit_dual_rate_from does the same for its sessionized
        # stream)
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    windowed = _windowed(df, order, fast_rows, slow_rows, chunk_trunc)
    out = windowed.withColumns({
        "fast_vec": resample_udf(fast_len)(F.col("__fast_raw")),
        "slow_vec": resample_udf(slow_len)(F.col("__slow_raw")),
    })
    zeros = F.array_repeat(F.lit(0.0), slow_len)
    return out.select(
        "url",
        "warc_ts",
        F.coalesce("slow_vec", zeros).alias("slow_vec"),
        "fast_vec",
        F.concat(F.coalesce("slow_vec", zeros), "fast_vec").alias("fused_vec"),
        "n_hist_rows",
        "max_input_ts",
    )


def _windowed(
    df: DataFrame,
    order: list[str],
    fast_rows: int,
    slow_rows: int,
    chunk_trunc: str | None,
) -> DataFrame:
    """The flagship window family over url partitions, or with
    ``chunk_trunc`` over (url, time-chunk) partitions —
    range-partition-with-carry (operators/skew.py), exactly equal.

    Why exactness holds with day-or-coarser chunks:

    - every ROWS frame reaches back ≤ ``slow_rows`` rows, which the
      carry rows (last ``slow_rows`` rows before the chunk) supply;
    - a chunk never splits a day, so the first REAL row of every chunk
      sees a lag(day) from an earlier day (its carry predecessor or
      nothing) ⇒ it IS a day anchor, and the slow-pathway
      last(ignorenulls) carry-forward always resolves to a real anchor
      inside the chunk — carry rows' own (partial-history) anchor
      values are never selected because carries sort strictly before
      every real row;
    - ts is ordered, so max(history ts) = the immediate predecessor's
      ts, which the carry contains; n_hist_rows needs true prefix counts
      (a bounded carry can't count unbounded history) — supplied by the
      cumsum over the per-chunk count relation.
    """

    def family(rows: DataFrame, w: WindowSpec, real: Column) -> DataFrame:
        fast_frame = w.rowsBetween(-fast_rows, -1)
        slow_frame = w.rowsBetween(-slow_rows, -1)
        hist_frame = w.rowsBetween(Window.unboundedPreceding, -1)
        carry_frame = w.rowsBetween(Window.unboundedPreceding, 0)

        # lag the raw ts, not its date: a lagged date would be projected
        # below the one window pass, and so shuffled as an extra column.
        # One lag: a first row (null predecessor) is an anchor, and so is
        # a null-ts row, whose predecessor is null too (warc_ts leads an
        # ascending order, nulls first)
        prev_day = F.to_date(F.lag("warc_ts").over(w))
        is_anchor = F.coalesce(prev_day != F.to_date("warc_ts"), F.lit(True))

        # All window families in ONE pass over one Exchange+Sort; the
        # slow pathway list is masked to anchors (the reference's sparse
        # sampling, reference/test_net.py:69-74) and the as-of fusion is
        # the running last(ignorenulls) carry-forward of that raw list —
        # J4 collapsed into W2/W3's partition, zero extra shuffle (the
        # general two-table case uses operators.asof_join). Consecutive
        # Window nodes preserve partitioning+ordering, so no UDF may
        # appear between them: both resample UDFs run once, at the tail,
        # after every window. __slow_raw reads __slow_at_anchor, so it
        # comes in a second projection.
        return rows.withColumns({
            "__fast_raw": F.collect_list("measure").over(fast_frame),
            "__slow_at_anchor":
                F.when(is_anchor, F.collect_list("measure").over(slow_frame)),
            "n_hist_rows": F.count(F.when(real, F.lit(1))).over(hist_frame),
            "max_input_ts": F.max("warc_ts").over(hist_frame),
        }).withColumns({
            "__slow_raw":
                F.last("__slow_at_anchor", ignorenulls=True).over(carry_frame),
        })

    if chunk_trunc is None:
        return family(df, Window.partitionBy("url").orderBy(*order), F.lit(True))
    if fast_rows > slow_rows:
        raise ValueError("fast_rows must be <= slow_rows (carry bound)")
    return carry_window(
        df, "url", order, F.date_trunc(chunk_trunc, F.col("warc_ts")),
        slow_rows, ["measure"], family, "n_hist_rows",
    )


def featurize_sessions(
    pages: DataFrame,
    gap_seconds: float = 30 * 24 * 3600.0,
    vec_len: int = 8,
    min_rows: int | None = None,
) -> DataFrame:
    """Session-granularity featurization (FIXTURES.md §4 `sessions`):
    sessionize crawl revisits per url, then summarize each session's
    ordered measure series into a fixed-length vector.

    This is the reference's task-level variant — same operators, coarser
    grouping (reference/task_slowfast.py:1389 concatenates segment
    frames within a task before sampling; here the session's measures
    are ordered-concatenated then resampled). Uses only rows *inside*
    the session (a summary, not a point-in-time feature — no leakage
    question arises; PIT features come from featurize_pages).
    """
    df = (
        pages.withColumn(
            "text", F.coalesce(F.col("text"), extract_text_udf(F.col("html")))
        )
        .select("url", "warc_ts", F.length("text").cast("double").alias("measure"))
    )
    s = sessionize(df, entity="url", ts="warc_ts", gap_seconds=gap_seconds)
    agg = s.groupBy("url", "session_id").agg(
        F.min("warc_ts").alias("session_start"),
        F.max("warc_ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_revisits"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("warc_ts").alias("__ts"),
                                        F.col("measure").alias("__v")))
            ),
            lambda x: x["__v"],
        ).alias("__ordered"),
    )
    out = agg.withColumn("session_vec", resample_udf(vec_len)(F.col("__ordered"))).drop(
        "__ordered"
    )
    if min_rows is not None:
        out = out.filter(F.col("n_revisits") >= min_rows)
    return out


def pit_dual_rate_events(
    spark: SparkSession,
    sf_dir: str,
    fast_rows: int = 8,
    slow_rows: int = 64,
    session_gap_s: float = 1800.0,
) -> DataFrame:
    """Flagship query on the driver's ``events`` table: for every
    'click', the point-in-time feature row — fast stats over its own
    strictly-earlier history, slow stats as-of the latest 'view'
    snapshot, plus the session index. Exact-arithmetic (cents) so the
    DuckDB oracle hashes identically."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "value_cents", F.round(F.col("value") * 100).cast("long")
    )
    return pit_dual_rate_from(ev, fast_rows, slow_rows, session_gap_s)


def pit_dual_rate_from(
    ev: DataFrame,
    fast_rows: int = 8,
    slow_rows: int = 64,
    session_gap_s: float = 1800.0,
    chunk_trunc: str | None = None,
    auto_chunk_threshold: int = 50_000,
) -> DataFrame:
    """Same plan over any events-shaped DataFrame
    (event_id, ts, user_id, event_type, value_cents).

    ``chunk_trunc`` (``"day" | "week" | "month" | "year"``) runs every
    entity-sequential stage per (user, time-chunk) with a carry — gap
    sessionization, both dual-rate window families and the as-of fusion
    (``chunk=`` on each operator) — so a million-event user parallelizes
    across its chunks instead of serializing the pipeline through one
    task. ``"auto"`` (VERDICT r5 #2) picks month chunks only when the
    zero-job :func:`auto_chunk_decision` sketch sees a user with at
    least ``auto_chunk_threshold`` rows; on uniform corpora forced
    chunking costs ~6× pure overhead. ``None`` is the plain plan. Every
    setting is value-exact vs the same oracle.

    A click matches the latest view by (ts, event_id): the view's
    event_id leads the as-of payload, whose greatest value wins a tie."""
    chunk_trunc = _resolve_chunk_trunc(
        chunk_trunc, ev, "user_id", auto_chunk_threshold, "month"
    )
    chunk = None if chunk_trunc is None else F.date_trunc(chunk_trunc, F.col("ts"))
    ev = sessionize(ev, entity="user_id", ts="ts", gap_seconds=session_gap_s,
                    tiebreak="event_id", chunk=chunk)
    if chunk is not None:
        # three branches (feature windows, view windows, click rows)
        # read the sessionized stream; persist it so the chunked
        # sessionizer's carry pass runs once, not per branch
        ev = ev.persist(StorageLevel.MEMORY_AND_DISK)

    window_args = dict(entity="user_id", ts="ts", measure="value_cents",
                       strict=True, tiebreak="event_id", chunk=chunk)
    fast = dual_rate_features(
        ev, fast_rows=fast_rows, slow_rows=slow_rows, **window_args
    )
    # up to slow_rows strictly-earlier views
    view_feats = dual_rate_features(
        ev.filter(F.col("event_type") == "view"), fast_rows=1,
        slow_rows=slow_rows, prefix_slow="slow_view", **window_args,
    ).select("user_id", "ts", "event_id", "slow_view_avg", "slow_view_cnt")

    clicks = fast.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        "session_idx",
        F.round("fast_avg", 6).alias("fast_avg"),
        F.col("fast_cnt"),
        F.round("slow_avg", 6).alias("slow_avg"),
        F.col("slow_cnt"),
    )
    out = asof_join(
        clicks,
        view_feats,
        on="ts",
        by=("user_id",),
        right_cols=["event_id", "slow_view_avg", "slow_view_cnt"],
        allow_exact_matches=True,
        matched_ts_col="view_ts",
        chunk=chunk,
    )
    return out.select(
        "user_id",
        "ts",
        "event_id",
        "session_idx",
        "fast_avg",
        "fast_cnt",
        "slow_avg",
        "slow_cnt",
        "view_ts",
        F.round("slow_view_avg", 6).alias("slow_view_avg"),
        "slow_view_cnt",
    )
