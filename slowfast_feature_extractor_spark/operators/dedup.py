"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup — all declarative DataFrame compositions (no
Python UDFs), so each survives the 100-TB scale-up:

- exact: one shuffle on the content hash (map-side partial agg);
- MinHash+LSH: explode→min is a partial-aggregatable groupBy; candidate
  generation joins docs only within an LSH bucket — O(n·b) not O(n²);
- Jaccard verification runs only on candidate pairs;
- frequent-shingle skew is capped by a document-frequency limit before
  the inverted-index join (otherwise one hot shingle creates a
  quadratic bucket).

Hash representation (the r2 scaling lever): every shuffled key —
shingle, per-hash minhash value, LSH band bucket — is an **int64**, not
a 32-char md5 hex string: hex keys quadruple the shuffled bytes of the
three big exchanges (inverted index, signature agg, banded self-join)
and made minhash the worst scaler in the r2 sweep. Two interchangeable
hash functions:

- ``hash_fn="md5"`` (default): the first 15 hex chars of md5 parsed as
  a base-16 int64 — bit-identical in DuckDB
  (``CAST('0x'||substr(md5(x),1,15) AS BIGINT)``), so oracles reproduce
  results exactly; 60-bit space makes collisions irrelevant at any
  corpus size (and both engines collide identically anyway).
- ``hash_fn="xx64"``: Spark's native xxhash64 — no crypto work, fastest
  throughput path; no DuckDB twin, so registry rows keep md5.

Shingle hashing happens INSIDE the per-doc array (transform →
array_distinct) before explode, so per-doc dedup of shingles is
map-side and the old ``.distinct()`` shuffle of raw shingle STRINGS is
gone entirely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.functions.textstats import shingles

HEX = "0123456789abcdef"


def md5i64(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative int64 — portable:
    DuckDB ``CAST('0x'||substr(md5(x),1,15) AS BIGINT)`` matches
    bit-for-bit (parity-tested in tests/test_dedup.py)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _hash64(c: Column, hash_fn: str) -> Column:
    if hash_fn == "md5":
        return md5i64(c)
    if hash_fn == "xx64":
        return F.xxhash64(c)
    raise ValueError(f"hash_fn must be 'md5' or 'xx64', got {hash_fn!r}")


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group identical texts by md5; keep the minimum id per group.
    Output: (text_hash, keep_id, n_copies)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def winnow_fingerprints(hashes: Column, w: int = 8) -> Column:
    """Winnowing (Schleimer/Wilkerson/Aiken, MOSS) over an
    ``array<long>`` of k-gram hashes: the distinct set of per-window
    minima for every window of ``w`` consecutive k-gram hashes.

    Guarantee: two documents sharing any substring of ≥ w+k-1 tokens
    share at least one fingerprint — AT ANY ALIGNMENT. That is the
    property fixed-stride passage hashing (``dedup_passages``) lacks
    (a one-token prefix shift breaks every passage boundary) and full
    shingle comparison (``decontaminate``) pays |shingles| rows for;
    winnowing emits ~2/(w+1) of the shingle count with a detection
    floor instead of a heuristic. Pure JVM array expressions (O(n·w)
    per doc, map-only); documents shorter than one window fall back to
    a single whole-array window. Nulls (empty docs) must be filtered
    by the caller after explode."""
    n_win = F.greatest(F.size(hashes) - F.lit(w - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda i: F.array_min(F.slice(hashes, i, w)),
        )
    )


def dedup_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    hash_fn: str = "md5",
) -> DataFrame:
    """Corpus-wide duplicated-passage removal (the exact-substring dedup
    of Lee et al. 2022 / RefinedWeb line-dedup, at fixed passage
    granularity): each document's token stream is chunked into
    consecutive NON-overlapping ``k``-token segments; a full segment is
    kept only at its first corpus occurrence — ordered by
    (``id_col``, segment index) — and removed everywhere else. Sub-``k``
    tail segments are exempt (always kept); the exemption doubles as the
    hot-key guard, since ubiquitous short fragments never enter the
    first-occurrence shuffle. Output: (id, n_segs, n_kept, clean_text)
    with clean_text the kept segments re-joined in document order.

    Scale shape: chunking is map-only array work; the first-occurrence
    table is a map-side-combinable groupBy MIN(struct) on an int64
    segment hash (a passage repeated 10^9 times partial-aggregates
    before the exchange); the keep decision is one sort-merge join back
    on that int64 key (tails are split out pre-join so no null-key rows
    pile onto one partition; AQE splits skewed probe keys); reassembly
    shuffles once on the doc id with per-doc bounded state. Different
    passages that collide on the 60-bit hash share one first-occurrence
    group — deterministic, and mirrored exactly by the oracle."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    t = df.select(F.col(id_col), toks.alias("toks"))
    # guard size=0: Spark's sequence(0, -1) would DESCEND, not be empty
    chunks = F.when(
        F.size("toks") == 0, F.expr("CAST(array() AS array<string>)")
    ).otherwise(
        F.expr(
            f"transform(sequence(0, CAST(ceil(size(toks) / {k}.0) AS INT) - 1),"
            f" i -> array_join(slice(toks, i * {k} + 1, {k}), ' '))"
        )
    )
    segs = t.select(
        F.col(id_col),
        F.size("toks").alias("n_toks"),
        F.posexplode(chunks).alias("seg_idx", "seg"),
    ).select(
        id_col,
        "seg_idx",
        "seg",
        ((F.col("seg_idx") + 1) * k <= F.col("n_toks")).alias("is_full"),
    )
    tails = segs.where(~F.col("is_full")).select(
        id_col, "seg_idx", "seg", F.lit(True).alias("keep")
    )
    fulls = segs.where("is_full").select(
        id_col, "seg_idx", "seg", _hash64(F.col("seg"), hash_fn).alias("h")
    )
    firsts = fulls.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("seg_idx"))).alias("first")
    )
    decided = fulls.join(firsts, "h").select(
        id_col,
        "seg_idx",
        "seg",
        (
            (F.col(f"first.{id_col}") == F.col(id_col))
            & (F.col("first.seg_idx") == F.col("seg_idx"))
        ).alias("keep"),
    )
    return (
        decided.unionByName(tails)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("seg_idx", "seg"))
                        )
                    ),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def shingle_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, shingle:int64) inverted-index rows, one per distinct shingle
    per doc. Shingles are hashed and de-duplicated INSIDE the per-doc
    array (transform → array_distinct → explode), so building the index
    is shuffle-free and the rows it feeds downstream carry an int64 key
    instead of the shingle text."""
    hashed = F.array_distinct(
        F.transform(shingles(F.col(text_col), n), lambda s: _hash64(s, hash_fn))
    )
    return df.select(F.col(id_col).alias("id"), F.explode(hashed).alias("shingle"))


def _id_pairs(grp: DataFrame) -> DataFrame:
    """(id_a, id_b) for every unordered pair inside each row's sorted
    ``ids`` posting list, id_a < id_b: two chained explodes generate the
    C(|ids|, 2) combinations directly — no self-join, no |ids|² ordered
    pairs before a filter."""
    return (
        grp.filter(F.size("ids") >= 2)
        .select("ids", F.posexplode("ids").alias("__i", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.slice("ids", F.col("__i") + F.lit(2), F.size("ids"))
            ).alias("id_b"),
        )
    )


def _pair_intersections(
    sh: DataFrame, max_shingle_df: int | None
) -> tuple[DataFrame, DataFrame]:
    """Shared candidate machinery for the all-pairs scorers
    (:func:`jaccard_pairs`, :func:`containment_pairs`): one intersection
    count per unordered doc pair sharing ≥1 shingle, plus per-doc
    shingle counts — both computed AFTER the df skew cap so scorer and
    size see the same shingle universe (and so does any oracle replay:
    the registry oracles apply the identical cap).

    Returns ``(inter(id_a, id_b, inter), sizes(id, sz))``.

    Shape (r7): ONE shuffle of the (id, shingle) index groups the
    posting list per shingle (sorted id array, capped by the df filter);
    ordered pairs then come from chained explodes over each array — the
    r6 merge SELF-join shuffled the index twice, sorted both sides, and
    materialized df² ordered pairs before the ``id_a < id_b`` filter
    (2× the C(df,2) combinations emitted here), which dominated the
    all-pairs scorers' wall (dedup_jaccard 14.9 s, dedup_containment
    28.8 s at sf1.0). The grouped index is persisted: sizes and pairs
    both read it, so the shingle explode+hash runs once. The worst-case
    aggregation buffer is one hot shingle's FULL posting list (the cap
    filters after collection); at web scale feed this a pre-capped
    index if a shingle's df can reach memory-hostile sizes.
    """
    from pyspark import StorageLevel

    grp = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    if max_shingle_df is not None:
        grp = grp.filter(F.size("ids") <= max_shingle_df)
    grp = grp.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = (
        grp.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    inter = _id_pairs(grp).groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("inter"))
    return inter, sizes


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """All-pairs n-gram Jaccard via a shared-shingle inverted index.

    Candidate pairs = docs sharing ≥1 shingle (after dropping shingles
    whose document frequency exceeds ``max_shingle_df`` — the skew cap);
    then exact |A∩B| / (|A|+|B|−|A∩B|) ≥ threshold.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded 6dp.
    """
    inter, sizes = _pair_intersections(
        shingle_table(df, id_col, text_col, n, hash_fn), max_shingle_df
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """Directed shingle-containment near-dup pairs: C(src→dst) =
    |S(src) ∩ S(dst)| / |S(src)| ≥ threshold.

    The asymmetric companion to :func:`jaccard_pairs` — a short quote
    page is CONTAINED in the article it quotes even when their Jaccard
    is tiny, which is exactly the snippet/aggregator case symmetric
    dedup misses. Same sub-quadratic shape: inverted-index candidate
    generation (shared-shingle merge join with the df skew cap), one
    intersection count per unordered pair, then BOTH directions scored
    from the single count by exploding a 2-array — no second pass over
    the index.
    """
    inter, sizes = _pair_intersections(
        shingle_table(df, id_col, text_col, n, hash_fn), max_shingle_df
    )
    # NOTE (r7, measured): filtering INSIDE the 2-array before the
    # explode looks like it should save materializing 2 rows/pair, but
    # ran ~2× SLOWER interleaved-A/B'd at sf1.0 (27–38 s vs 12–16 s):
    # the higher-order ArrayFilter drops the projection out of
    # whole-stage codegen. Explode-then-filter stays — but a PLAIN
    # pre-filter on the aggregated pair row (below) is codegen-friendly:
    # a pair can pass in SOME direction only if inter/least(sz) clears
    # the threshold, so pairs failing that (the vast majority at 0.5)
    # never materialize the 2-struct array or its explode. The 1e-6
    # slack over-admits at the round(…, 6) boundary; the exact rounded
    # filter after the explode is unchanged, so the output is identical.
    both = (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .filter(
            F.col("inter").cast("double")
            >= (F.lit(threshold) - F.lit(1e-6)) * F.least("sz_a", "sz_b")
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("id_src"),
                        F.col("id_b").alias("id_dst"),
                        F.round(
                            F.col("inter").cast("double") / F.col("sz_a"), 6
                        ).alias("containment"),
                    ),
                    F.struct(
                        F.col("id_b").alias("id_src"),
                        F.col("id_a").alias("id_dst"),
                        F.round(
                            F.col("inter").cast("double") / F.col("sz_b"), 6
                        ).alias("containment"),
                    ),
                )
            ).alias("p")
        )
    )
    return both.select("p.id_src", "p.id_dst", "p.containment").filter(
        F.col("containment") >= threshold
    )


# md5i64 as SQL text, for expressions built as one parsed string
_MD5I64_SQL = "CAST(conv(substring(md5({}), 1, 15), 16, 10) AS BIGINT)"


def _minhash_aggs(num_hashes: int, hash_fn: str) -> list[Column]:
    """``mh_i = min(hash64(i, shingle))``: the i-th MinHash permutation
    proxy hashes the (salt, shingle-hash) pair to a fresh int64. md5 mode
    salts by string-prefixing (portable to DuckDB); xx64 mode feeds the
    salt as an extra xxhash64 argument. Built as SQL text: one expression
    per slot instead of ~10 Column calls, each a JVM round trip."""
    def salted(i):
        if hash_fn == "md5":
            return _MD5I64_SQL.format(f"concat('{i}:', CAST(shingle AS STRING))")
        return f"xxhash64({i}, shingle)"
    return [F.expr(f"min({salted(i)}) AS mh{i}") for i in range(num_hashes)]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-doc MinHash signature: ``mh_i = min(hash64(i, shingle))`` —
    int64 min, engine-independent in md5 mode. Docs with no shingles
    are dropped (nothing to hash). One partial-aggregatable groupBy
    whose shuffle rows are (id, num_hashes × int64)."""
    sh = shingle_table(df, id_col, text_col, n, hash_fn)
    return sh.groupBy("id").agg(*_minhash_aggs(num_hashes, hash_fn))


def lsh_params(
    threshold: float,
    target_recall: float = 0.9,
    max_fp: float = 0.1,
    max_hashes: int = 512,
) -> tuple[int, int]:
    """Pick (num_hashes, bands) for the MinHash-LSH S-curve
    ``P(candidate | sim) = 1 - (1 - sim^rows)^bands``: recall at
    ``threshold`` ≥ ``target_recall`` AND collision probability for a
    half-threshold pair ≤ ``max_fp``. The fp budget is what matters at
    corpus scale: 2-row bands admit ~sim² of ALL pairs as candidates —
    measured 33.4M candidate pairs on a 3.2M-doc corpus vs 797 with
    4-row bands — an O(n²)-shaped blowup that no join strategy survives
    at 10^12 docs. Among admissible bandings, the fewest total hashes
    (then lowest fp) wins.

    The 512-hash search space makes threshold=0.5 feasible (365 hashes,
    5-row x 73 bands — r3's 64-hash cap could not reach it); low
    thresholds are intrinsically hash-hungry because the S-curve must
    separate sim=t from sim=t/2, so a caller wanting a cheaper signature
    trades recall/fp explicitly rather than inheriting a blowup."""
    best = None
    for rows in range(1, 33):
        for bands in range(1, max_hashes + 1):
            if rows * bands > max_hashes:
                break
            recall = 1 - (1 - threshold**rows) ** bands
            fp = 1 - (1 - (threshold / 2) ** rows) ** bands
            if recall < target_recall or fp > max_fp:
                continue
            key = (rows * bands, fp)
            if best is None or key < best[:2]:
                best = (rows * bands, fp, rows, bands)
    if best is None:
        raise ValueError(
            f"no (rows, bands) within {max_hashes} hashes reaches recall "
            f"{target_recall} with fp <= {max_fp} at threshold {threshold}"
        )
    return best[0], best[3]


def band_buckets(
    signatures: DataFrame, num_hashes: int, bands: int, hash_fn: str = "md5"
) -> DataFrame:
    """(id, band:int, bucket:int64) LSH band table via ONE posexplode
    over an in-row array of band hashes. The r6 form unioned ``bands``
    SELECTs of the signature table, so every band branch (and every
    join side consuming the union) re-evaluated the whole signature
    aggregation — profiled at sf1.0, 8 near-identical ~8.5 s stages
    (4 bands × 2 join sides) re-running the groupBy from the persisted
    shingle index. The explode keeps a single evaluation and no union."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    rows = num_hashes // bands
    per_band = []
    for b in range(bands):
        cols = [f"mh{b * rows + r}" for r in range(rows)]
        if hash_fn == "md5":
            parts = ", ".join(f"CAST({c} AS STRING)" for c in cols)
            per_band.append(_MD5I64_SQL.format(f"concat_ws('|', {parts})"))
        else:
            per_band.append(f"xxhash64({', '.join(cols)})")
    return signatures.selectExpr(
        "id", f"posexplode(array({', '.join(per_band)})) AS (band, bucket)"
    )


def minhash_lsh_candidates(
    signatures: DataFrame, num_hashes: int, bands: int, hash_fn: str = "md5"
) -> DataFrame:
    """Band the signature (rows-per-band = num_hashes/bands); docs whose
    band hashes collide are candidates. Candidates come from grouped
    posting-list combinations — groupBy(band, bucket) → sorted id array
    → chained explodes — one shuffle of (id, band, bucket) rows and
    C(|bucket|,2) generated pairs, instead of the r6 banded merge
    self-join (two shuffles + sorts, |bucket|² ordered pairs before the
    filter). Output distinct (id_a, id_b), id_a < id_b."""
    grp = (
        band_buckets(signatures, num_hashes, bands, hash_fn)
        .groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
    )
    return _id_pairs(grp).distinct()  # a pair may collide in several bands


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int | None = None,
    bands: int | None = None,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard ≥ threshold.
    Output (id_a, id_b, jaccard).

    When ``num_hashes``/``bands`` are not given they are derived from
    ``threshold`` via :func:`lsh_params`, so the default path gets an
    S-curve-sound banding instead of the fixed 2-row-band configuration
    r2 measured blowing up (33.4M candidates at 3.2M docs; ADVICE r3).
    Passing both overrides the chooser (cheaper signature, caller owns
    the recall/fp trade).

    The shingle inverted index feeds BOTH the signature aggregation and
    the verification join; it is persisted so the expensive explode runs
    once (on a production deployment this is a materialized intermediate
    table). MEMORY_AND_DISK serialized: the int64-keyed index compresses
    to compact columnar batches (the r2 DISK_ONLY choice was tuned for
    32-char hex rows, whose deserialized cache GC-thrashed wide
    executors; with int64 rows the disk write itself became the
    bottleneck — measured 204s persist vs 33s in-memory on a 56M-row
    index — and memory pressure is ~100x lower), and it degrades to
    disk blocks instead of failing when the index outgrows the cache.
    The eager count prevents concurrent downstream stages from racing to
    materialize it twice; it is the only build-time job. Candidates and
    verification stay lazy, their join strategy chosen at run time
    (:func:`_verify_candidates`). ``threshold`` must be > 0 and is
    checked first, so a rejected call runs no job and caches nothing."""
    return _lsh_dedup(
        df, id_col, text_col, n, num_hashes, bands, threshold, hash_fn,
        lambda sh, h: sh.groupBy("id").agg(*_minhash_aggs(h, hash_fn)),
        "num_hashes",
    )


def _lsh_dedup(
    df: DataFrame, id_col: str, text_col: str, n: int, num_hashes: int | None,
    bands: int | None, threshold: float, hash_fn: str, signatures, hashes_param: str,
) -> DataFrame:
    """Shared body of :func:`minhash_lsh_dedup` and
    :func:`minhash_oph_dedup`: validate (errors name the caller's
    ``hashes_param``), persist and count the shingle index,
    ``signatures(index, num_hashes)``, band, verify."""
    from pyspark import StorageLevel

    if threshold <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    if (num_hashes is None) != (bands is None):
        raise ValueError(f"pass both {hashes_param} and bands, or neither")
    if num_hashes is None:
        num_hashes, bands = lsh_params(threshold)
    sh = shingle_table(df, id_col, text_col, n, hash_fn).persist(StorageLevel.MEMORY_AND_DISK)
    sh.count()
    cand = minhash_lsh_candidates(signatures(sh, num_hashes), num_hashes, bands, hash_fn)
    return _verify_candidates(sh, cand, threshold)


def _verify_candidates(sh: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs against the
    persisted shingle index ``sh``; shared by the salted-hash and OPH
    signature paths. Output (id_a, id_b, jaccard >= threshold).

    Shape (r7, second pass): verification works on PER-DOC shingle
    arrays, not index rows. One groupBy(id) folds the persisted index
    into (id, shingles:array<bigint>) — per-doc arrays are bounded by
    doc length, and the partial collect_list shuffles the same ~8 bytes
    per shingle the old per-doc ``sizes`` pass already paid. Each
    candidate pair then probes that table twice and computes
    |A∩B| with ``array_intersect`` in one codegen projection — the
    2M+-row index is never re-shuffled, sorted, or joined on
    (id, shingle), and the per-pair intersection groupBy disappears.
    The r6→r7a form expanded every candidate's id_a shingles
    (n_cand × |doc| rows), sort-merge-joined them against the full
    index, and re-aggregated per pair — profiled at the sf1.0 proxy as
    the largest steady-state stage of both minhash rows (2.4 s of
    5.8 s). Arrays are distinct by construction (shingle_table
    array_distincts per doc), so set-semantics ``array_intersect``
    counts exactly the shared-shingle rows the old join counted.

    The bare (id_a, id_b) pairs join the per-doc arrays twice and Spark
    picks each strategy at run time: with AQE on (``session.get_spark``)
    a side is broadcast only when its materialized shuffle output is
    under ``spark.sql.adaptive.autoBroadcastJoinThreshold``, so a
    candidate blow-up stays a spillable sort-merge join; with AQE off
    the static size estimate decides.

    ``threshold`` must be > 0 (the callers check it before any work):
    zero-overlap candidate pairs reach the filter with jaccard 0.0, so a
    non-positive threshold would emit them.
    """
    docsets = sh.groupBy("id").agg(F.collect_list("shingle").alias("__shs"))
    both = cand.join(
        docsets.withColumnsRenamed({"id": "id_a", "__shs": "__sa"}), "id_a"
    ).join(docsets.withColumnsRenamed({"id": "id_b", "__shs": "__sb"}), "id_b")
    return (
        both.selectExpr(
            "id_a",
            "id_b",
            "size(array_intersect(__sa, __sb)) AS inter",
            "size(__sa) AS sz_a",
            "size(__sb) AS sz_b",
        )
        .selectExpr(
            "id_a",
            "id_b",
            "round(CAST(inter AS DOUBLE) / (sz_a + sz_b - inter), 6) AS jaccard",
        )
        .filter(F.col("jaccard") >= threshold)
    )


def oph_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 8,
    hash_fn: str = "md5",
) -> DataFrame:
    """One-Permutation-Hashing MinHash signature (Li, Owen & Zhang 2012)
    with rotation densification (Shrivastava & Li 2014): ONE hash per
    shingle — the already-int64 shingle hash — partitioned into
    ``num_perm`` bins by ``shingle mod num_perm``; slot i is the min
    shingle hash that landed in bin i. Empty slots borrow from the
    nearest non-empty bin to the right (circular, distance j) and are
    re-keyed as ``hash64(j ':' borrowed)`` so two docs collide on a
    densified slot iff they borrowed the SAME value from the SAME
    distance — the equality semantics of the published ``H + j·C``
    rotation scheme without its int64-overflow hazard.

    Scale contrast with :func:`minhash_signatures`: the salted-hash
    signature computes ``num_hashes`` fresh hashes PER SHINGLE (365 of
    them at threshold 0.5 banding — the dominant CPU term of the whole
    dedup at corpus scale); OPH hashes each shingle ONCE, turning the
    signature aggregation into a pure conditional-min over already-
    computed keys. Same groupBy shape (partial-aggregatable, int64
    shuffle rows); the densification is a flat per-row CASE chain, fully
    inside whole-stage codegen. The trade: per-slot collision
    probability is approximately — not exactly — the Jaccard similarity
    (empty-bin correlation), which LSH banding + exact-Jaccard
    verification absorbs; recall at equal (num_perm, bands) is slightly
    below the salted path, which the banding chooser's margin covers.
    Docs with no shingles are dropped (nothing to hash)."""
    sh = shingle_table(df, id_col, text_col, n, hash_fn)
    return _oph_sig_from_shingles(sh, num_perm, hash_fn)


def _oph_sig_from_shingles(sh: DataFrame, num_perm: int, hash_fn: str) -> DataFrame:
    binned = sh.withColumn(
        "bin", F.pmod(F.col("shingle"), F.lit(num_perm)).cast("int")
    )
    raw = binned.groupBy("id").agg(
        *[
            F.min(F.when(F.col("bin") == i, F.col("shingle"))).alias(f"raw{i}")
            for i in range(num_perm)
        ]
    )
    P = num_perm
    if P == 1:
        # single bin: any doc with shingles fills it, nothing to densify
        return raw.select("id", F.col("raw0").alias("mh0"))
    # Densification via higher-order functions, NOT a per-slot CASE
    # chain: the naive form is O(P²) expression-tree nodes with an md5
    # at every branch — at P=128 that is ~16k hash expressions, which
    # blows past the JIT method limit and falls out of whole-stage
    # codegen (measured: 128-perm signatures slower than the salted
    # path they should beat). transform+aggregate keep the tree O(P);
    # the O(P²) borrow scan happens on array DATA at runtime, and the
    # borrow hash is computed once per empty slot (the `acc IS NOT
    # NULL` short-circuit keeps later iterations free).
    if hash_fn == "md5":
        borrow = _MD5I64_SQL.format(
            f"concat(CAST(j AS STRING), ':', CAST(_arr[pmod(i + j, {P})] AS STRING))"
        )
    else:
        borrow = f"xxhash64(j, _arr[pmod(i + j, {P})])"
    dens_expr = f"""transform(sequence(0, {P - 1}), i ->
      CASE WHEN _arr[i] IS NOT NULL THEN _arr[i]
      ELSE aggregate(
        sequence(1, {P - 1}),
        CAST(NULL AS BIGINT),
        (acc, j) -> CASE
          WHEN acc IS NOT NULL THEN acc
          WHEN _arr[pmod(i + j, {P})] IS NOT NULL THEN {borrow}
          ELSE CAST(NULL AS BIGINT) END)
      END)"""
    return (
        raw.withColumn("_arr", F.array(*[F.col(f"raw{i}") for i in range(P)]))
        .withColumn("_dens", F.expr(dens_expr))
        .select("id", *[F.col("_dens")[i].alias(f"mh{i}") for i in range(P)])
    )


def minhash_oph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int | None = None,
    bands: int | None = None,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash-LSH near-dup with OPH signatures: identical banding,
    candidate join, and exact-Jaccard verification as
    :func:`minhash_lsh_dedup` — only the signature aggregation differs
    (one hash pass instead of ``num_perm``). Output (id_a, id_b,
    jaccard >= threshold). As there, ``threshold`` > 0 is checked before
    any work and the shingle-index count is the only build-time job."""
    return _lsh_dedup(
        df, id_col, text_col, n, num_perm, bands, threshold, hash_fn,
        lambda sh, p: _oph_sig_from_shingles(sh, p, hash_fn),
        "num_perm",
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id) with
    cluster_id = the component's minimum id (the canonical survivor —
    the same keep-min rule :func:`exact_dedup` applies to exact copies).

    Iterative min-label propagation: each round every node takes the
    minimum label among itself and its neighbors; convergence in
    O(component diameter) rounds — near-dup components are shallow
    (stars around a few hub documents), so a handful of rounds at any
    corpus size. Each round is one equi-join + one partial-aggregatable
    groupBy; lineage is cut with localCheckpoint so plans stay flat.
    The driver loop coordinates ITERATIONS (a scalar count per round),
    never data — this is how iterative graph algorithms are expressed on
    Spark (Pregel-style). ``pairs`` is evaluated once, into the
    checkpointed edge set the nodes are read from.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    both_ways = F.array(
        F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
        F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
    )
    edges = pairs.select(F.inline(both_ways)).distinct().localCheckpoint(eager=True)
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "lbl", F.col("id")
    ).localCheckpoint(eager=True)

    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # exhausted max_iter with labels still moving: a component whose
        # diameter exceeds max_iter (a long near-dup chain) would get
        # silently-wrong cluster ids — refuse instead (ADVICE r2).
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — rounds "
            "needed = component diameter, so 25 covers any star-shaped "
            "near-dup corpus but not adversarial chains"
        )
    return labels.select(F.col("id"), F.col("lbl").alias("cluster_id"))


def dedup_clusters_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., *Connected Components in MapReduce and
    Beyond*, SoCC'14) → (id, cluster_id) with cluster_id = the
    component-minimum id — output-identical to :func:`dedup_clusters`.

    This is the corpus-scale shape: min-label propagation converges in
    O(component diameter) rounds, which an adversarial near-dup CHAIN
    (doc₁≈doc₂≈…≈docₙ — boilerplate series, paginated articles)
    stretches to O(n) rounds; star contraction converges in O(log² n)
    worst case / O(log n) observed, independent of diameter. Each round
    is two groupBy-min + self-join passes over a monotonically
    SHRINKING canonical edge set (held big→small), lineage cut with
    localCheckpoint; the driver coordinates only round counts and a
    set-equality convergence probe, never data.

    large-star: every node links its strictly-larger neighbors to the
    minimum of its closed neighborhood; small-star: every node links
    its (smaller) neighbors and itself to the neighborhood minimum.
    Both preserve connectivity; the joint fixpoint is one star per
    component, rooted at the component minimum. ``pairs`` is evaluated
    once, into a checkpoint both the edges and the nodes are read from.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    raw = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).localCheckpoint(eager=True)
    edges = (
        raw.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("src"), F.least("u", "v").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # nodes come from the UNFILTERED pairs: a node whose only appearance
    # is a self-pair (x, x) is its own singleton component and must
    # still emit a row — dedup_clusters keeps it, so output-identity
    # requires keeping it here too
    nodes = (
        raw.select(F.col("u").alias("id"))
        .unionByName(raw.select(F.col("v").alias("id")))
        .distinct()
    )

    for _ in range(max_iter):
        # large-star: over the symmetric view, m(u) = min(N(u) ∪ {u});
        # emit (v, m(u)) for every neighbor v > u — strictly-larger
        # neighbors hook onto the local minimum
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m_closed = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("mn", "src").alias("m"))
        )
        large = (
            sym.join(m_closed, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # small-star: edges are big→small, so every neighbor of u is
        # smaller; relink them AND u itself to min(N(u)), dropping the
        # self-loop on the minimum
        m_small = large.groupBy("src").agg(F.min("dst").alias("m"))
        new_edges = (
            large.join(m_small, "src")
            .select(F.col("dst").alias("relinked"), F.col("m"))
            .unionByName(
                m_small.select(F.col("src").alias("relinked"), F.col("m"))
            )
            .filter(F.col("relinked") != F.col("m"))
            .select(F.col("relinked").alias("src"), F.col("m").alias("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        converged = (
            new_edges.count() == edges.count()
            and new_edges.exceptAll(edges).count() == 0
        )
        edges = new_edges
        if converged:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters_star did not converge in {max_iter} rounds; "
            "star contraction needs O(log^2 n) rounds worst-case, so 20 "
            "covers any physically storable corpus — a non-convergence "
            "here indicates an edge-generation bug, not a small budget"
        )
    # fixpoint = star per component: every non-root has exactly one
    # outgoing edge to its component minimum; roots label themselves
    return nodes.join(
        edges.withColumnRenamed("src", "id"), "id", "left"
    ).select("id", F.coalesce(F.col("dst"), F.col("id")).alias("cluster_id"))


def _hex_digit_val(c: Column) -> Column:
    """hex char → 0..15 via strpos arithmetic (portable to any engine)."""
    return F.instr(F.lit(HEX), c) - 1


def simhash16(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash per doc over distinct whitespace tokens.

    token value = int(md5(token)[:4], 16) computed with portable strpos
    arithmetic; per bit j the signed votes (+1 if set else −1) are
    summed; bit j of the simhash is 1 iff the vote sum ≥ 0.
    Output: (id, simhash int)."""
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit("")))).alias("tok"),
        )
    )
    h = F.md5(F.col("tok"))
    v = (
        _hex_digit_val(F.substring(h, 1, 1)) * 4096
        + _hex_digit_val(F.substring(h, 2, 1)) * 256
        + _hex_digit_val(F.substring(h, 3, 1)) * 16
        + _hex_digit_val(F.substring(h, 4, 1))
    )
    with_v = toks.withColumn("v", v)
    votes = with_v.groupBy("id").agg(
        *[
            F.sum(F.shiftright(F.col("v"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{j}")
            for j in range(16)
        ]
    )
    sim = None
    for j in range(16):
        term = F.when(F.col(f"s{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select("id", sim.alias("simhash"))


def simhash_pairs(
    sim: DataFrame,
    max_hamming: int = 2,
    id_col: str = "id",
    hash_col: str = "simhash",
    n_bits: int = 16,
) -> DataFrame:
    """Pairs with Hamming(simhash_a, simhash_b) ≤ max_hamming.

    The signature space is only 2^``n_bits`` values, so all blocking
    runs over DISTINCT signatures, not docs: group ids per signature
    (one partial-aggregatable shuffle of (id, h) rows), then

    - hamming 0: in-group ordered combinations of the sorted id array
      (two chained explodes — no join at all);
    - hamming 1..d: the banded pigeonhole join (any pair within
      distance d agrees on one of d+1 contiguous bit-bands) over the
      ≤2^n_bits-row signature-group table, popcount verified once per
      SIGNATURE pair, then the two id arrays expanded.

    The r6 version banded the per-DOC table: with n docs over at most
    2^n_bits distinct values every duplicated signature re-verified the
    same xor per doc pair and the candidate join scaled ~n²/2^(band
    bits) — measured 1.6 s at sf0.1 → 56.9 s at sf1.0 on the 16-bit
    registry row. Distinct-signature blocking makes candidate volume
    ∝ output size, independent of duplication. Output
    (id_a, id_b, hamming)."""
    from pyspark import StorageLevel

    groups = (
        sim.groupBy(F.col(hash_col).alias("h"))
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # hamming = 0: ordered combinations within one signature group
    same = _id_pairs(groups).withColumn("hamming", F.lit(0))
    if max_hamming == 0:
        return same.select("id_a", "id_b", "hamming")

    # hamming 1..d: banded join over distinct signatures only
    n_bands = max_hamming + 1
    edges = [round(k * n_bits / n_bands) for k in range(n_bands + 1)]
    hs = groups.select("h")
    per_band = []
    for k in range(n_bands):
        lo, hi = edges[k], edges[k + 1]
        band_val = F.shiftright(F.col("h"), lo).bitwiseAND(
            F.lit((1 << (hi - lo)) - 1)
        )
        per_band.append(
            hs.select(F.lit(k).alias("band"), band_val.alias("bucket"), "h")
        )
    banded = per_band[0]
    for p in per_band[1:]:
        banded = banded.unionByName(p)
    a = banded.select("band", "bucket", F.col("h").alias("h_a"))
    b = banded.select("band", "bucket", F.col("h").alias("h_b"))
    x = F.col("h_a").bitwiseXOR(F.col("h_b"))
    pop = None
    for j in range(n_bits):
        t = F.shiftright(x, j).bitwiseAND(F.lit(1))
        pop = t if pop is None else pop + t
    sig_pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("h_a") < F.col("h_b"))
        .select("h_a", "h_b")
        .distinct()  # a signature pair may collide in several bands
        .withColumn("hamming", pop)
        .filter(F.col("hamming") <= max_hamming)
    )
    cross = (
        sig_pairs.join(
            groups.select(F.col("h").alias("h_a"), F.col("ids").alias("ids_a")),
            "h_a",
        )
        .join(
            groups.select(F.col("h").alias("h_b"), F.col("ids").alias("ids_b")),
            "h_b",
        )
        .select("hamming", F.explode("ids_a").alias("__ia"), "ids_b")
        .select("hamming", "__ia", F.explode("ids_b").alias("__ib"))
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "hamming",
        )
    )
    return same.select("id_a", "id_b", "hamming").unionByName(cross)
