"""Dedup operator semantics on crafted documents with known duplicate
structure."""

from __future__ import annotations

import pytest

from slowfast_feature_extractor_spark.operators import dedup as DD

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog tonight"),
    (2, "the quick brown fox jumps over the lazy dog tonight"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat tonight"),  # near dup of 1
    (4, "completely different words about spark window functions here"),
    (5, "xy"),  # < 3 tokens: no shingles
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, schema="doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["keep_id"]: r["n_copies"] for r in DD.exact_dedup(docs).collect()}
    assert out[1] == 2  # 1 and 2 collapse, min id kept
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_jaccard_pairs(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             DD.jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0  # identical
    # docs 1 vs 3: 10 tokens, 8 shingles each; dog/cat (token 9) appears
    # in 2 shingles -> 6 shared / 10 union
    assert pairs[(1, 3)] == pytest.approx(6 / 10, abs=1e-6)
    assert not any(4 in p or 5 in p for p in pairs)


def test_containment_asymmetric(spark):
    """A snippet fully contained in a long article scores 1.0 in the
    snippet→article direction while its Jaccard (and the reverse
    containment) stays low — the aggregator/quote case symmetric dedup
    misses."""
    article = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    snippet = "eta theta iota kappa lambda"  # 5 tokens -> 3 shingles, all in article
    df = spark.createDataFrame(
        [(1, article), (2, snippet)], schema="doc_id long, text string"
    )
    out = {
        (r.id_src, r.id_dst): r.containment
        for r in DD.containment_pairs(df, threshold=0.5).collect()
    }
    assert out[(2, 1)] == 1.0  # snippet ⊂ article
    assert (1, 2) not in out  # article is NOT contained in the snippet
    # the same pair under Jaccard: 3 shared / 18 union ≈ 0.167 — invisible
    j = {(r.id_a, r.id_b) for r in DD.jaccard_pairs(df, threshold=0.3).collect()}
    assert (1, 2) not in j


def test_containment_directions_from_one_count(docs):
    """Exact dups contain each other (both directions emitted); the
    near-dup pair scores |∩|/|src| per direction."""
    out = {
        (r.id_src, r.id_dst): r.containment
        for r in DD.containment_pairs(docs, threshold=0.5).collect()
    }
    assert out[(1, 2)] == 1.0 and out[(2, 1)] == 1.0
    # 1 vs 3: 8 shingles each, 6 shared -> 0.75 both ways
    assert out[(1, 3)] == pytest.approx(0.75, abs=1e-6)
    assert out[(3, 1)] == pytest.approx(0.75, abs=1e-6)


def test_containment_prefilter_round_boundary(spark):
    """The r7 pre-filter (inter >= (t - 1e-6) * least(sz)) must ADMIT a
    pair whose raw ratio is just below the threshold but whose 6dp
    rounding equals it: containment = round(5/12, 6) = 0.416667 passes
    t = 0.416667 even though 5/12 = 0.41666… < t raw. A slack-free
    pre-filter would drop the pair before the explode."""
    w = "w1 w2 w3 w4 w5 w6 w7"  # shared 7-token run -> 5 shared shingles
    src = w + " u1 u2 u3 u4 u5 u6 u7"  # 14 tokens -> 12 distinct shingles
    dst = "x1 x2 " + w + " x3 x4 x5 x6 x7 x8 x9"
    df = spark.createDataFrame(
        [(1, src), (2, dst)], schema="doc_id long, text string"
    )
    out = {
        (r.id_src, r.id_dst): r.containment
        for r in DD.containment_pairs(df, threshold=0.416667).collect()
    }
    assert out[(1, 2)] == pytest.approx(0.416667, abs=1e-9)


def test_minhash_lsh_finds_near_dups(docs):
    out = {(r.id_a, r.id_b): r.jaccard for r in
           DD.minhash_lsh_dedup(docs, num_hashes=8, bands=4, threshold=0.3).collect()}
    assert out[(1, 2)] == 1.0  # exact dup always collides in every band
    # candidates never include shingle-less docs
    assert not any(5 in p for p in out)


@pytest.mark.parametrize("dedup, banding", [
    ("minhash_lsh_dedup", {"num_hashes": 8, "bands": 4}),
    ("minhash_oph_dedup", {"num_perm": 8, "bands": 4}),
])
@pytest.mark.parametrize("threshold", [0.0, -0.5])
def test_lsh_dedup_rejects_non_positive_threshold(docs, dedup, banding, threshold):
    """Zero-overlap candidates reach verification with jaccard 0.0, so a
    non-positive threshold would emit them: both entry points refuse it
    before any work — no job runs and no shingle index is left cached."""
    sc = docs.sparkSession.sparkContext
    group = f"reject-threshold-{dedup}-{threshold}"
    persisted = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup(group, "non-positive threshold")
    try:
        with pytest.raises(ValueError, match="threshold must be > 0"):
            getattr(DD, dedup)(docs, threshold=threshold, **banding)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert sc._jsc.getPersistentRDDs().size() == persisted


@pytest.mark.parametrize("dedup,hashes_param", [
    ("minhash_lsh_dedup", "num_hashes"),
    ("minhash_oph_dedup", "num_perm"),
])
def test_lsh_dedup_half_banding_names_callers_parameter(docs, dedup, hashes_param):
    """Both entry points share one driver; its banding check still names
    each caller's own hash-count parameter."""
    with pytest.raises(ValueError, match=f"pass both {hashes_param} and bands"):
        getattr(DD, dedup)(docs, bands=4)


def _lsh_pairs(df, dedup, banding, threshold=0.3):
    return {(r.id_a, r.id_b): r.jaccard for r in
            getattr(DD, dedup)(df, threshold=threshold, **banding).collect()}


@pytest.mark.parametrize("dedup, banding", [
    ("minhash_lsh_dedup", {"num_hashes": 8, "bands": 4}),
    ("minhash_oph_dedup", {"num_perm": 8, "bands": 4}),
])
def test_lsh_dedup_build_persists_only_shingle_index(spark, dedup, banding):
    """Building the query persists one RDD — the shingle index — and
    leaves candidate generation and verification lazy (no candidate
    cache to leak)."""
    # a corpus no other test builds, so its index is not already cached
    df = spark.createDataFrame(
        DOCS + [(6, f"a corpus only the {dedup} persist test builds")],
        schema="doc_id long, text string",
    )
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    out = getattr(DD, dedup)(df, threshold=0.3, **banding)
    assert sc._jsc.getPersistentRDDs().size() == before + 1
    assert {(r.id_a, r.id_b) for r in out.collect()} >= {(1, 2)}


@pytest.mark.parametrize("dedup, banding", [
    ("minhash_lsh_dedup", {"num_hashes": 8, "bands": 4}),
    ("minhash_oph_dedup", {"num_perm": 8, "bands": 4}),
])
def test_lsh_dedup_empty_shingleless_and_null_ids(spark, dedup, banding):
    """Hostile inputs: an empty corpus and an all-shingle-less corpus
    give zero pairs without error; NULL doc ids never surface in a pair,
    even when their texts duplicate each other and a keyed doc."""
    schema = "doc_id long, text string"
    empty = spark.createDataFrame([], schema)
    assert _lsh_pairs(empty, dedup, banding) == {}
    shingleless = spark.createDataFrame(
        [(1, "xy"), (2, ""), (3, None), (4, "two words")], schema
    )
    assert _lsh_pairs(shingleless, dedup, banding) == {}
    dup = DOCS[0][1]
    nulls = spark.createDataFrame(
        [(None, dup), (None, dup), (None, DOCS[3][1]), (10, dup), (11, dup)],
        schema,
    )
    out = _lsh_pairs(nulls, dedup, banding)
    assert out == {(10, 11): 1.0}


def test_lsh_pairs_independent_of_join_strategy(spark, docs):
    """The verification joins carry no strategy hint, so Spark picks it
    at run time. With both broadcast thresholds off the executed final
    plan has no broadcast hash join, and with AQE off the static planner
    decides; either way the verified pairs equal the default run's."""
    banding = {"num_hashes": 8, "bands": 4}
    base = _lsh_pairs(docs, "minhash_lsh_dedup", banding)
    assert (1, 2) in base

    def run_with(conf):
        saved = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            df = DD.minhash_lsh_dedup(docs, threshold=0.3, **banding)
            pairs = {(r.id_a, r.id_b): r.jaccard for r in df.collect()}
            return pairs, df._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    no_bhj, plan = run_with({
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    })
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan
    assert no_bhj == base
    no_aqe, _ = run_with({"spark.sql.adaptive.enabled": "false"})
    assert no_aqe == base


def test_minhash_candidates_superset_check(docs):
    sigs = DD.minhash_signatures(docs)
    rows = {r["id"]: [r[f"mh{i}"] for i in range(8)] for r in sigs.collect()}
    assert rows[1] == rows[2]  # identical docs -> identical signatures
    assert len(rows) == 4  # doc 5 has no shingles


@pytest.mark.parametrize("hash_fn", ["md5", "xx64"])
def test_minhash_signatures_and_bands_match_column_formulas(docs, hash_fn):
    """The signature slots and band buckets are built as SQL text; each
    must equal its documented formula written with Column functions:
    mh_i = min(hash64(i, shingle)), bucket = hash64 of the band's slots."""
    from pyspark.sql import functions as F

    def salted(i):
        if hash_fn == "md5":
            return DD.md5i64(F.concat(F.lit(f"{i}:"), F.col("shingle").cast("string")))
        return F.xxhash64(F.lit(i), F.col("shingle"))

    sigs = DD.minhash_signatures(docs, num_hashes=4, hash_fn=hash_fn)
    ref = DD.shingle_table(docs, hash_fn=hash_fn).groupBy("id").agg(
        *[F.min(salted(i)).alias(f"mh{i}") for i in range(4)]
    )
    assert sorted(sigs.collect()) == sorted(ref.collect())

    def bucket(cols):
        if hash_fn == "md5":
            return DD.md5i64(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]))
        return F.xxhash64(*cols)

    bands = DD.band_buckets(sigs, 4, 2, hash_fn)
    ref_bands = ref.select(
        "id",
        F.posexplode(F.array(bucket(["mh0", "mh1"]), bucket(["mh2", "mh3"]))).alias(
            "band", "bucket"
        ),
    )
    assert sorted(bands.collect()) == sorted(ref_bands.collect())


def test_simhash(docs):
    sh = {r["id"]: r["simhash"] for r in DD.simhash16(docs).collect()}
    assert sh[1] == sh[2]  # identical token sets
    assert 0 <= sh[1] < 2**16
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             DD.simhash_pairs(DD.simhash16(docs), max_hamming=0).collect()}
    assert pairs[(1, 2)] == 0


def test_dedup_clusters_components(spark):
    """Connected components: a 4-node chain collapses to its minimum id
    even though no pair links the endpoints directly (propagation depth
    > 1); disjoint pairs stay separate clusters."""
    from slowfast_feature_extractor_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(3, 9), (9, 5), (5, 7), (20, 21)], "id_a long, id_b long"
    )
    got = {r.id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {3: 3, 9: 3, 5: 3, 7: 3, 20: 20, 21: 20}


def test_dedup_clusters_star_matches_label_propagation(spark):
    """Large-star/small-star contraction labels the same components as
    min-label propagation on chains, stars, cycles, and disjoint pairs
    — including an id ordering where the component min sits mid-chain."""
    from slowfast_feature_extractor_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_star,
    )

    pairs = spark.createDataFrame(
        [(3, 9), (9, 5), (5, 7), (20, 21), (40, 41), (41, 42), (42, 40),
         (100, 60), (60, 101), (101, 58)],
        "id_a long, id_b long",
    )
    lp = {r.id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    star = {r.id: r.cluster_id for r in dedup_clusters_star(pairs).collect()}
    assert star == lp
    assert star[7] == 3 and star[42] == 40 and star[100] == 58


def test_dedup_clusters_star_long_chain_logarithmic_rounds(spark):
    """A 120-node near-dup CHAIN: label propagation needs O(n) rounds
    (raises at max_iter=10), star contraction converges within its
    default O(log n) budget and still labels every node with the
    component minimum — the reason the star variant is the corpus-scale
    shape."""
    import pytest

    from slowfast_feature_extractor_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_star,
    )

    n = 120
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iter=10)
    got = {r.id: r.cluster_id for r in dedup_clusters_star(pairs).collect()}
    assert got == {i: 0 for i in range(n)}


def test_md5i64_matches_duckdb(spark):
    """md5i64 (Spark conv/substring/md5) is bit-identical to the DuckDB
    oracle expression CAST('0x'||substr(md5(x),1,15) AS BIGINT) — the
    contract every int64-keyed dedup oracle relies on."""
    import duckdb
    from pyspark.sql import functions as F

    vals = ["abc", "", "héllo wörld", "a b c d e", "0", "é中文"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", DD.md5i64(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    for v in vals:
        expect = con.execute(
            "SELECT CAST(('0x' || substr(md5(?), 1, 15)) AS BIGINT)", [v]
        ).fetchone()[0]
        assert got[v] == expect, v


def test_minhash_xx64_mode_exact_subset(docs):
    """hash_fn='xx64' (native xxhash64, no DuckDB twin) must still emit
    only EXACT-verified pairs: its output is a subset of the all-pairs
    Jaccard relation with identical similarity values, and it finds the
    planted near-dup pair."""
    exact = {(r.id_a, r.id_b): r.jaccard for r in
             DD.jaccard_pairs(docs, threshold=0.3).collect()}
    xx = {(r.id_a, r.id_b): r.jaccard for r in
          DD.minhash_lsh_dedup(docs, num_hashes=8, bands=4, threshold=0.3, hash_fn="xx64").collect()}
    assert xx  # bands collide for the planted dups
    for pair, j in xx.items():
        assert exact[pair] == j
    assert (1, 2) in xx  # exact dup always collides in every band


def test_lsh_params_s_curve():
    """lsh_params returns a banding whose S-curve meets the recall
    target at the threshold and keeps low-sim collisions rare."""
    nh, nb = DD.lsh_params(0.8, target_recall=0.9)
    assert nh % nb == 0
    rows = nh // nb
    assert rows >= 3  # high thresholds must not get 1-2-row bands
    recall = 1 - (1 - 0.8**rows) ** nb
    assert recall >= 0.9
    fp = 1 - (1 - 0.4**rows) ** nb
    assert fp < 0.1
    nh2, nb2 = DD.lsh_params(0.8, target_recall=0.9)
    assert (nh2, nb2) == (nh, nb)  # deterministic
    with pytest.raises(ValueError):
        DD.lsh_params(0.99999, target_recall=0.999999, max_hashes=2)


def test_lsh_params_threshold_half():
    """threshold=0.5 — infeasible under r3's 64-hash cap — now returns a
    valid S-curve banding within the 512-hash default (VERDICT r3 #8)."""
    nh, nb = DD.lsh_params(0.5)
    rows = nh // nb
    assert nh % nb == 0 and nh <= 512 and rows >= 3
    assert 1 - (1 - 0.5**rows) ** nb >= 0.9  # recall at threshold
    assert 1 - (1 - 0.25**rows) ** nb <= 0.1  # fp at half threshold
    with pytest.raises(ValueError):  # very low thresholds stay infeasible
        DD.lsh_params(0.3)


def test_minhash_default_banding_derived(docs):
    """With no explicit banding, minhash_lsh_dedup derives
    (num_hashes, bands) from lsh_params(threshold) — the blowup-prone
    fixed 2-row-band default is gone (ADVICE r3). Results are still
    exact-verified pairs, so they form a subset of all-pairs Jaccard."""
    exact = {(r.id_a, r.id_b): r.jaccard for r in
             DD.jaccard_pairs(docs, threshold=0.5).collect()}
    derived = {(r.id_a, r.id_b): r.jaccard for r in
               DD.minhash_lsh_dedup(docs, threshold=0.5).collect()}
    assert (1, 2) in derived  # exact dup collides in every band
    for pair, j in derived.items():
        assert exact[pair] == j
    with pytest.raises(ValueError):  # half-specified banding is an error
        DD.minhash_lsh_dedup(docs, num_hashes=8, threshold=0.5)


def test_dedup_passages_first_occurrence_wins(spark):
    # P = a full 8-token passage duplicated across docs; doc 1 holds its
    # first corpus occurrence (lowest doc_id), docs 2 and 3 repeat it.
    P = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, P + " one two three"),                # P + 3-token tail
            (2, "x1 x2 x3 x4 x5 x6 x7 x8 " + P),      # unique seg + P
            (3, P),                                   # P alone
            (4, "one two three"),                     # tail-only doc
        ],
        schema="doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in DD.dedup_passages(docs, k=8).collect()}
    # doc 1: P kept (first occurrence) + tail kept
    assert (out[1]["n_segs"], out[1]["n_kept"]) == (2, 2)
    assert out[1]["clean_text"] == P + " one two three"
    # doc 2: its unique segment kept, P removed
    assert (out[2]["n_segs"], out[2]["n_kept"]) == (2, 1)
    assert out[2]["clean_text"] == "x1 x2 x3 x4 x5 x6 x7 x8"
    # doc 3: P removed entirely -> empty clean_text
    assert (out[3]["n_segs"], out[3]["n_kept"]) == (1, 0)
    assert out[3]["clean_text"] == ""
    # doc 4: sub-k tail exempt even though "one two three" also appears
    # as doc 1's tail
    assert (out[4]["n_segs"], out[4]["n_kept"]) == (1, 1)
    assert out[4]["clean_text"] == "one two three"


def test_dedup_passages_within_doc_and_order(spark):
    # the same passage repeated INSIDE one doc: second occurrence removed;
    # reassembly preserves document order of the kept segments
    P = "a b c d e f g h"
    Q = "q1 q2 q3 q4 q5 q6 q7 q8"
    docs = spark.createDataFrame(
        [(7, " ".join([P, Q, P]))], schema="doc_id long, text string"
    )
    row = DD.dedup_passages(docs, k=8).collect()[0]
    assert (row["n_segs"], row["n_kept"]) == (3, 2)
    assert row["clean_text"] == P + " " + Q


def test_dedup_passages_empty_and_whitespace_docs(spark):
    # zero-token docs produce no segment rows (absent from output, same
    # as the oracle); multi-space runs collapse via the empty-token filter
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "w1  w2   w3")],
        schema="doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in DD.dedup_passages(docs, k=8).collect()}
    assert set(rows) == {3}
    assert rows[3]["clean_text"] == "w1 w2 w3"


def _py_md5i64(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_oph_sig(text: str, p: int = 8, n: int = 3) -> list[int] | None:
    """Reference OPH: one md5 hash per distinct shingle, binned by
    mod p, per-bin min, rotation densification re-keyed as hash(j:v)."""
    toks = [t for t in text.split(" ") if t]
    hs = {_py_md5i64(" ".join(toks[i : i + n])) for i in range(len(toks) - n + 1)}
    if not hs:
        return None
    raw: list[int | None] = [None] * p
    for h in hs:
        b = h % p
        raw[b] = h if raw[b] is None else min(raw[b], h)
    dens = []
    for i in range(p):
        for j in range(p):
            src = raw[(i + j) % p]
            if src is not None:
                dens.append(src if j == 0 else _py_md5i64(f"{j}:{src}"))
                break
    return dens


def test_oph_signatures_match_reference_densification(docs):
    """Spark OPH signatures equal an independent Python reimplementation
    slot-for-slot — including borrowed (densified) slots, which the
    short fixture docs are guaranteed to have (8 shingles into 8 bins
    leaves empty bins with overwhelming probability)."""
    got = {r["id"]: [r[f"mh{i}"] for i in range(8)] for r in
           DD.oph_signatures(docs, num_perm=8).collect()}
    assert set(got) == {1, 2, 3, 4}  # doc 5 has no shingles
    for doc_id, text in DOCS:
        want = _py_oph_sig(text)
        if want is None:
            assert doc_id not in got
        else:
            assert got[doc_id] == want, f"doc {doc_id}"
    assert got[1] == got[2]  # identical docs -> identical signatures


def test_oph_dedup_verified_pairs_are_exact(docs):
    """OPH banding is approximate, but every emitted pair carries the
    EXACT Jaccard (shared verification join): identical docs always
    collide (all slots equal); emitted jaccard values equal the
    brute-force jaccard_pairs values; shingle-less docs never appear."""
    out = {(r.id_a, r.id_b): r.jaccard for r in
           DD.minhash_oph_dedup(docs, num_perm=8, bands=4, threshold=0.3).collect()}
    assert out[(1, 2)] == 1.0
    exact = {(r.id_a, r.id_b): r.jaccard for r in
             DD.jaccard_pairs(docs, threshold=0.3).collect()}
    for pair, j in out.items():
        assert exact[pair] == j
    assert not any(5 in p for p in out)
    with pytest.raises(ValueError):  # half-specified banding is an error
        DD.minhash_oph_dedup(docs, num_perm=8)


def test_dedup_clusters_star_keeps_self_pair_singletons(spark):
    """A node whose only appearance is a self-pair (x, x) is its own
    singleton component; both CC variants must emit its row (the star
    variant once dropped it by filtering u != v before deriving the
    node set)."""
    from slowfast_feature_extractor_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_star,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 7), (9, 9)], "id_a long, id_b long"
    )
    plain = sorted(tuple(r) for r in dedup_clusters(pairs).collect())
    star = sorted(tuple(r) for r in dedup_clusters_star(pairs).collect())
    assert plain == star == [(1, 1), (2, 1), (3, 1), (7, 7), (9, 9)]


@pytest.mark.parametrize("cc", ["dedup_clusters", "dedup_clusters_star"])
def test_dedup_clusters_evaluate_pairs_once(spark, cc):
    """Both CC variants read ``pairs`` in exactly one pass, however many
    rounds they run: an upstream pair stage (LSH candidates and
    verification, say) is not re-run per round or per derived set."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    seen = sc.accumulator(0)

    def tap(x):
        seen.add(1)
        return x

    chain = [(i, i + 1) for i in range(1, 9)] + [(20, 21), (30, 30)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long").select(
        F.udf(tap, "long")("id_a").alias("id_a"), "id_b"
    )
    got = sorted(tuple(r) for r in getattr(DD, cc)(pairs).collect())
    assert got == [(i, 1) for i in range(1, 10)] + [(20, 20), (21, 20), (30, 30)]
    assert seen.value == len(chain)


def test_winnow_guarantee_any_alignment(spark):
    """Any two docs sharing >= w+k-1 (=11) tokens must share a
    fingerprint REGARDLESS of where the span sits — the winnowing
    floor fixed-stride passage hashing lacks. Below-floor overlap may
    or may not collide; disjoint docs must not."""
    from pyspark.sql import functions as F

    from slowfast_feature_extractor_spark.functions import textstats as TS
    from slowfast_feature_extractor_spark.operators import dedup as DD

    span = " ".join(f"s{i}" for i in range(11))
    docs = [
        (0, "a0 a1 a2 " + span),                      # span at tail
        (1, span + " b0 b1 b2 b3 b4"),                # span at head
        (2, "c0 " + span + " c1 c2"),                 # span mid, odd shift
        (3, " ".join(f"d{i}" for i in range(30))),    # disjoint
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    hashes = F.transform(TS.shingles(F.col("text"), 4), DD.md5i64)
    fps = {
        r.doc_id: set(r.f)
        for r in df.select(
            "doc_id", DD.winnow_fingerprints(hashes, w=8).alias("f")
        ).collect()
    }
    assert fps[0] & fps[1] and fps[0] & fps[2] and fps[1] & fps[2]
    for i in (0, 1, 2):
        assert not (fps[i] & fps[3])


def test_winnow_short_and_empty_docs(spark):
    from pyspark.sql import functions as F

    from slowfast_feature_extractor_spark.functions import textstats as TS
    from slowfast_feature_extractor_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(0, ""), (1, "one two three"), (2, "one two three four five")],
        "doc_id long, text string",
    )
    hashes = F.transform(TS.shingles(F.col("text"), 4), DD.md5i64)
    rows = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", DD.winnow_fingerprints(hashes, w=8).alias("f")
        ).collect()
    }
    assert rows[0] == [None]          # empty doc -> caller filters nulls
    assert rows[1] == [None]          # < k tokens: no shingles
    assert len(rows[2]) == 1 and rows[2][0] is not None  # 2 shingles, 1 window
