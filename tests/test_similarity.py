"""Similarity-search semantics on crafted vectors with known geometry."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.operators import similarity as SIM

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),   # closest to 0
    (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
    (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite to 0
    (4, [0.95, 0.05, 0.0, 0.0]),  # even closer to 0
]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(VECS, schema="vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def queries(spark, emb):
    return emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_knn_bruteforce_order(emb, queries):
    out = SIM.knn_bruteforce(emb, queries, k=4).orderBy("rank").collect()
    assert [r.neighbor_id for r in out] == [4, 1, 2, 3]
    assert out[0].sim > out[1].sim > out[2].sim > out[3].sim
    assert out[2].sim == 0.0 and out[3].sim == -1.0


def test_knn_lsh_prunes_opposite_bucket(emb, queries):
    out = SIM.knn_lsh(emb, queries, k=4, bits=1).collect()
    ids = {r.neighbor_id for r in out}
    assert 3 not in ids  # negative first dim -> different sign bucket
    assert {4, 1} <= ids


def test_embedding_neardup(emb):
    pairs = {(r.id_a, r.id_b): r.sim for r in
             SIM.embedding_neardup(emb, threshold=0.95).collect()}
    assert (0, 4) in pairs and (0, 1) in pairs and (1, 4) in pairs
    assert all(s >= 0.95 for s in pairs.values())
    assert not any(2 in p or 3 in p for p in pairs)


def test_embedding_neardup_blocked_exact_parity(emb):
    """Distributed block-pair matmul == exact pair join, with the corpus
    forced across multiple blocks (every block-pair branch exercised) and
    no driver collect of the input anywhere in the plan."""
    want = {(r.id_a, r.id_b): r.sim for r in
            SIM.embedding_neardup(emb, threshold=-1.1).collect()}
    got = {(r.id_a, r.id_b): r.sim for r in
           SIM.embedding_neardup_blocked(emb, threshold=-1.1, n_blocks=3).collect()}
    assert got == want and len(got) == 10  # all C(5,2) pairs scored identically


def test_embedding_neardup_blocked_lsh_restricts_to_sign_bucket(emb):
    out = {(r.id_a, r.id_b) for r in
           SIM.embedding_neardup_blocked(emb, threshold=-1.1, bits=1, n_blocks=2).collect()}
    # vec 3 has negative first dim -> its pairs with 0/1/4 cross buckets
    assert (0, 3) not in out and (1, 3) not in out
    assert (0, 4) in out and (0, 1) in out


def test_blocked_neardup_no_planning_job(spark, tmp_path):
    """n_blocks=None must not run a count() job at plan time: the row
    estimate comes from parquet footers (VERDICT r2 item 8)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {"vec_id": range(100),
         "embedding": [rng.normal(size=8).astype("float32") for _ in range(100)]}
    )
    path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>").write.parquet(path)
    df = spark.read.parquet(path)
    est = SIM._estimate_rows(df)
    assert est == 100  # exact, from footers, zero Spark jobs
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    out = SIM.embedding_neardup_blocked(df, threshold=0.99)  # plan only
    after = tracker.getJobIdsForGroup(None)
    assert before == after  # planning launched no job
    assert out.schema.simpleString() == "struct<id_a:bigint,id_b:bigint,sim:double>"


def test_knn_blocked_guards_driver_collect(spark, tmp_path):
    """VERDICT r5 #4: above max_query_rows the blocked variant must NOT
    collect the query side to the driver — it falls back to the
    join-based plan (no grouped python node, no broadcast-hinted query
    side) and stays value-identical to the broadcast path."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {"vec_id": range(60),
         "embedding": [rng.normal(size=8).astype("float32") for _ in range(60)]}
    )
    path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        pdf, schema="vec_id long, embedding array<float>"
    ).write.parquet(path)
    corpus = spark.read.parquet(path)
    qpath = str(tmp_path / "queries.parquet")
    corpus.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).write.parquet(qpath)
    queries = spark.read.parquet(qpath)

    # above threshold (footer estimate 10 > 5): fallback plan, zero
    # jobs at composition time (the collect would have been a job)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    guarded = SIM.knn_bruteforce_blocked(corpus, queries, k=3, max_query_rows=5)
    assert tracker.getJobIdsForGroup(None) == before
    plan = guarded._jdf.queryExecution().toString()
    assert "MapInPandas" not in plan  # blocked kernel not engaged
    # no FORCED broadcast hint on the query side — the planner may
    # still pick a stats-based broadcast strategy for small inputs
    assert "ResolvedHint" not in plan and "UnresolvedHint" not in plan

    # below threshold: blocked kernel engaged (collect is allowed)
    blocked = SIM.knn_bruteforce_blocked(corpus, queries, k=3, max_query_rows=100)
    assert "MapInPandas" in blocked._jdf.queryExecution().toString()

    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    a = sorted(guarded.collect(), key=key)
    b = sorted(blocked.collect(), key=key)
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        assert ra.asDict() == rb.asDict()


def test_blocked_lsh_bucket_local_block_counts(spark):
    """VERDICT r3 #1: with bits set, the block count is derived PER
    sign bucket from its own size (rows_per_block), not a global B.
    Skewed buckets — one big (multi-block), one tiny (single-block) —
    must still produce exactly the same-bucket pair-join relation."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    rows = []
    for vid in range(80):  # big bucket: first dim >= 0
        v = rng.normal(size=8); v[0] = abs(v[0])
        rows.append((vid, v.astype("float32")))
    for vid in range(80, 86):  # tiny bucket: first dim < 0
        v = rng.normal(size=8); v[0] = -abs(v[0])
        rows.append((vid, v.astype("float32")))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
        schema="vec_id long, embedding array<float>",
    )
    # rows_per_block=16 -> big bucket spans ceil(80/16)=5 blocks, tiny 1
    got = {(r.id_a, r.id_b): r.sim for r in
           SIM.embedding_neardup_blocked(
               df, threshold=-1.1, bits=1, rows_per_block=16).collect()}
    want = {(r.id_a, r.id_b): r.sim for r in
            SIM.embedding_neardup(df, threshold=-1.1, bits=1).collect()}
    assert got == want
    assert len(got) == 80 * 79 // 2 + 6 * 5 // 2  # same-bucket pairs only


def test_sign_lsh_recall_on_planted_neardups(spark):
    """The bits= sign-LSH path targets the HIGH-threshold near-dup
    regime: on planted near-duplicates (cos >= ~0.99 pairs) recall vs
    the exact blocked path is >= 0.95; every emitted pair carries the
    exact similarity (subset-exactness)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for base_i in range(60):  # 60 planted pairs
        base = rng.normal(size=16)
        base /= np.linalg.norm(base)
        for _ in range(2):
            v = base + rng.normal(scale=0.01, size=16)
            rows.append((vid, v.astype("float32"))); vid += 1
    for _ in range(200):  # background noise
        rows.append((vid, rng.normal(size=16).astype("float32"))); vid += 1
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
        schema="vec_id long, embedding array<float>",
    )
    exact = {(r.id_a, r.id_b): r.sim
             for r in SIM.embedding_neardup_blocked(df, threshold=0.95).collect()}
    lsh = {(r.id_a, r.id_b): r.sim
           for r in SIM.embedding_neardup_blocked(df, threshold=0.95, bits=4).collect()}
    assert len(exact) >= 60
    for pair, sim in lsh.items():
        assert exact[pair] == sim  # subset with exact values
    recall = len(set(lsh) & set(exact)) / len(exact)
    assert recall >= 0.95, f"recall {recall:.3f}"


def test_semantic_dedup_cell_local_prune(spark):
    """SemDeDup shape: cells come from the nearest of k seed centroids
    (k lowest ids); pruning is strictly CELL-LOCAL — a vector similar to
    a lower-id vector in ANOTHER cell is kept; within a cell the lowest
    id survives and later near-dups (cosine >= threshold) drop."""
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),    # seed A
        (1, [0.0, 1.0, 0.0, 0.0]),    # seed B
        (2, [0.99, 0.01, 0.0, 0.0]),  # cell A, near-dup of 0 -> dropped
        (3, [0.0, 0.98, 0.02, 0.0]),  # cell B, near-dup of 1 -> dropped
        (4, [0.0, 0.0, 1.0, 0.0]),    # cell A or B by tie-break, far from all -> kept
        (5, [0.97, 0.03, 0.0, 0.0]),  # cell A, near-dup of 0 -> dropped
    ]
    emb = spark.createDataFrame(vecs, schema="vec_id long, embedding array<float>")
    out = {r.vec_id: (r.cell, r.keep) for r in
           SIM.semantic_dedup(emb, k=2, threshold=0.9).collect()}
    assert len(out) == 6
    assert out[0] == (0, True) and out[1] == (1, True)
    assert out[2][0] == 0 and out[2][1] is False
    assert out[3][0] == 1 and out[3][1] is False
    assert out[5][0] == 0 and out[5][1] is False
    # vector 4 is orthogonal to both seeds (sim 0 to each): tie breaks
    # to the lowest seed id, and nothing in its cell is within threshold
    assert out[4] == (0, True)


ZERO_VECS = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])]


@pytest.mark.filterwarnings("error::RuntimeWarning")
@pytest.mark.parametrize(
    "scorer",
    ["knn_bruteforce", "knn_lsh", "knn_ivf", "embedding_neardup", "semantic_dedup"],
)
def test_zero_vector_neither_matches_nor_is_matched(spark, scorer):
    """A zero-norm vector has no cosine with anything: under ANSI mode
    every JVM scorer must drop it (NULL sim) instead of raising
    DIVIDE_BY_ZERO, and so return what its blocked numpy twin returns."""
    emb = spark.createDataFrame(ZERO_VECS, schema="vec_id long, embedding array<double>")
    if scorer == "semantic_dedup":
        out = {r.vec_id: (r.cell, r.keep) for r in
               SIM.semantic_dedup(emb, k=2, threshold=0.9).collect()}
        # seeds 0 (zero) and 1; 2 is a near-dup of 1 in its cell
        assert out == {0: (0, True), 1: (1, True), 2: (1, False), 3: (1, True)}
        return
    if scorer == "embedding_neardup":
        got = SIM.embedding_neardup(emb, threshold=-1.1)
        want = SIM.embedding_neardup_blocked(emb, threshold=-1.1)
    else:
        q = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        got = {
            "knn_bruteforce": lambda: SIM.knn_bruteforce(emb, q, k=3),
            "knn_lsh": lambda: SIM.knn_lsh(emb, q, k=3, bits=2),
            "knn_ivf": lambda: SIM.knn_ivf(
                emb, q, k=3, n_cells=2, n_probe=2, quantizer="seed"),
        }[scorer]()
        want = SIM.knn_bruteforce_blocked(emb, q, k=3)
    got, want = sorted(map(tuple, got.collect())), sorted(map(tuple, want.collect()))
    assert got == want and len(got) > 0
    assert all(0 not in r[:2] for r in got)  # the zero vector is in no row


SHORT_VECS = [
    (0, [1.0, 0.0]), (1, [0.99, 0.01]), (2, [-1.0, 0.0]), (3, [-0.99, -0.01]),
    (4, [0.0, 1.0]), (5, [0.01, 0.99]),
]


@pytest.mark.parametrize(
    "scorer", ["knn_lsh", "embedding_neardup", "embedding_neardup_blocked"]
)
def test_sign_bucket_skips_dims_past_vector_end(spark, scorer):
    """A vector shorter than ``bits`` adds no bit for its missing
    dimensions, as DuckDB's NULL ``v[j]`` does in the oracles: 2-dim
    vectors bucket the same under ``bits=4`` as under ``bits=2``
    instead of raising INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI."""
    emb = spark.createDataFrame(SHORT_VECS, schema="vec_id long, embedding array<double>")

    def run(bits):
        if scorer == "knn_lsh":
            q = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
            return SIM.knn_lsh(emb, q, k=2, bits=bits)
        return getattr(SIM, scorer)(emb, threshold=0.9, bits=bits)

    got, want = (sorted(map(tuple, run(bits).collect())) for bits in (4, 2))
    assert got == want and len(got) > 0
