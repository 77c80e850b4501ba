"""Text-analysis Column functions: edge cases (empty/short docs) and
known-value checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.functions import textstats as TS

DOCS = [
    (1, "the quick brown fox and the lazy dog"),
    (2, ""),                       # empty
    (3, "word"),                   # single token, no shingles
    (4, "der hund und die katze ist da"),   # German markers
    (5, "  spaced   out   words  "),        # whitespace runs
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, schema="doc_id long, text string")


def _one(docs, col, doc_id):
    return docs.filter(F.col("doc_id") == doc_id).select(col.alias("x")).collect()[0]["x"]


def test_token_count(docs):
    assert _one(docs, TS.token_count(F.col("text")), 1) == 8
    assert _one(docs, TS.token_count(F.col("text")), 2) == 0
    assert _one(docs, TS.token_count(F.col("text")), 5) == 3  # empties dropped


def test_stopwords_and_quality(docs):
    assert _one(docs, TS.stopword_count(F.col("text")), 1) == 3  # the, and, the
    q_empty = _one(docs, TS.quality_score(F.col("text")), 2)
    assert q_empty == 0.0
    q1 = _one(docs, TS.quality_score(F.col("text")), 1)
    assert 0.0 < q1 <= 1.0


def test_langid(docs):
    assert _one(docs, TS.langid(F.col("text")), 1) == "en"
    assert _one(docs, TS.langid(F.col("text")), 4) == "de"
    assert _one(docs, TS.langid(F.col("text")), 2) == "und"  # no markers
    assert _one(docs, TS.langid(F.col("text")), 3) == "und"


def test_shingles_and_fingerprint(docs):
    assert _one(docs, F.size(TS.shingles(F.col("text"), 3)), 1) == 6
    assert _one(docs, F.size(TS.shingles(F.col("text"), 3)), 3) == 0
    assert _one(docs, TS.min_shingle_hash(F.col("text")), 3) is None
    fp5 = _one(docs, TS.fingerprint(F.col("text")), 5)
    assert len(fp5) == 32  # md5 hex of normalized text


@pytest.mark.parametrize("n", [1, 2, 3, 4])
def test_shingles_match_python_reference(spark, n):
    """Every shingle string, in order, equals the space-joined window of
    ``n`` consecutive non-empty tokens; a NULL text has none."""
    rows = DOCS + [(6, None), (7, "a b c d e f g h")]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = df.select("doc_id", TS.shingles(F.col("text"), n).alias("sh"))
    got = {r.doc_id: r.sh for r in out.collect()}
    for doc_id, text in rows:
        toks = [t for t in (text or "").split(" ") if t]
        assert got[doc_id] == [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)], doc_id


def test_nfc_normalize_parity_with_duckdb(spark):
    """Spark UDF (unicodedata) vs DuckDB (utf8proc) NFC byte parity on
    every transformation class: combining marks, multi-mark canonical
    reordering, compatibility singletons, Hangul jamo, and identity."""
    import duckdb
    import unicodedata
    from pyspark.sql import functions as F

    from slowfast_feature_extractor_spark.functions.unicode import nfc_normalize
    from slowfast_feature_extractor_spark.plans.queries import _NFC_SNIPPETS

    cases = list(_NFC_SNIPPETS) + ["plain ascii", "composed é Å", ""]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i int, t string")
    got = {r.i: r.n for r in df.select("i", nfc_normalize(F.col("t")).alias("n")).collect()}
    con = duckdb.connect()
    for i, c in enumerate(cases):
        duck = con.execute("select nfc_normalize(?)", [c]).fetchone()[0]
        assert got[i] == duck == unicodedata.normalize("NFC", c), repr(c)
        # the decomposed snippets must actually change under NFC
        if i < len(_NFC_SNIPPETS):
            assert got[i] != c, repr(c)


def test_nfc_normalize_null_passthrough(spark):
    from pyspark.sql import functions as F

    from slowfast_feature_extractor_spark.functions.unicode import nfc_normalize

    df = spark.createDataFrame([(1, None), (2, "x")], "i int, t string")
    rows = {r.i: r.n for r in df.select("i", nfc_normalize(F.col("t")).alias("n")).collect()}
    assert rows[1] is None and rows[2] == "x"
