"""Feature-vector parity (allclose) + leakage audit for the flagship
pages pipeline (SURVEY.md §5 tests #2 and #3): the Spark plan vs a
literal pandas/NumPy oracle sharing the window/resample definitions."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from conftest import SCAN_DIR_ENCODED

from slowfast_feature_extractor_spark.functions.extraction import extract_text
from slowfast_feature_extractor_spark.functions.vector import resample_to_k_np
from slowfast_feature_extractor_spark.plans.featurize import featurize_pages

FAST_ROWS, SLOW_ROWS, FAST_LEN, SLOW_LEN = 32, 64, 32, 8


def _oracle(pages_pd: pd.DataFrame) -> dict:
    """Single-process oracle: literal trailing-window + resample + as-of
    semantics (the reference's W2/W3/W5/A1/A2 re-expressed)."""
    out = {}
    df = pages_pd.copy()
    df["text"] = df["html"].map(extract_text)
    df["measure"] = df["text"].str.len().astype(float)
    for url, g in df.sort_values(["url", "warc_ts"]).groupby("url"):
        vals = g["measure"].tolist()
        tss = g["warc_ts"].tolist()
        # slow anchors: first snapshot of each (url, day)
        anchors = []  # (ts, slow_vec)
        seen_days = set()
        for pos, ts in enumerate(tss):
            day = ts.date()
            if day not in seen_days:
                seen_days.add(day)
                hist = vals[max(0, pos - SLOW_ROWS):pos]
                anchors.append((ts, resample_to_k_np(hist, SLOW_LEN)))
        for pos, ts in enumerate(tss):
            fast = resample_to_k_np(vals[max(0, pos - FAST_ROWS):pos], FAST_LEN)
            slow = np.zeros(SLOW_LEN)
            for ats, avec in anchors:
                if ats <= ts:
                    slow = avec
                else:
                    break
            out[(url, ts)] = (slow, fast, np.concatenate([slow, fast]), pos)
    return out


@pytest.fixture(scope="module")
def features(spark, pages_df):
    return featurize_pages(
        pages_df, fast_rows=FAST_ROWS, slow_rows=SLOW_ROWS,
        fast_len=FAST_LEN, slow_len=SLOW_LEN,
    ).toPandas()


def test_feature_vectors_allclose(features, pages_pd):
    want = _oracle(pages_pd)
    assert len(features) == len(pages_pd)
    for _, r in features.iterrows():
        key = (r["url"], r["warc_ts"].to_pydatetime())
        slow, fast, fused, n_hist = want[key]
        np.testing.assert_allclose(np.array(r["slow_vec"]), slow, atol=1e-9, err_msg=str(key))
        np.testing.assert_allclose(np.array(r["fast_vec"]), fast, atol=1e-9, err_msg=str(key))
        np.testing.assert_allclose(np.array(r["fused_vec"]), fused, atol=1e-9, err_msg=str(key))
        assert r["n_hist_rows"] == n_hist


def test_zero_leakage(features):
    """max contributing input ts must be strictly earlier than the row ts
    (north rule). Rows with no history have a null bound."""
    with_hist = features[features["n_hist_rows"] > 0]
    assert len(with_hist) > 0
    assert (with_hist["max_input_ts"] < with_hist["warc_ts"]).all()
    no_hist = features[features["n_hist_rows"] == 0]
    assert no_hist["max_input_ts"].isna().all()
    # fused = slow ‖ fast layout
    row = features.iloc[0]
    assert len(row["fused_vec"]) == SLOW_LEN + FAST_LEN


def test_first_row_zero_padded(features):
    first = features.sort_values(["url", "warc_ts"]).groupby("url").head(1)
    for _, r in first.iterrows():
        assert list(r["fast_vec"]) == [0.0] * FAST_LEN  # no history → zeros


@pytest.mark.parametrize("trunc", ["day", "month"])
def test_chunked_flagship_exact_parity(spark, pages_df, features, trunc):
    """featurize_pages(chunk_trunc=...) — the skew path for
    million-revisit urls — is EXACTLY equal to the unchunked plan:
    same rows, same vectors bit-for-bit, same audit columns."""
    chunked = featurize_pages(
        pages_df, fast_rows=FAST_ROWS, slow_rows=SLOW_ROWS,
        fast_len=FAST_LEN, slow_len=SLOW_LEN, chunk_trunc=trunc,
    ).toPandas()
    assert set(chunked.columns) == set(features.columns)
    key = ["url", "warc_ts"]
    a = features.sort_values(key).reset_index(drop=True)
    b = chunked.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a["url"] == b["url"]).all()
    assert (a["warc_ts"] == b["warc_ts"]).all()
    assert (a["n_hist_rows"] == b["n_hist_rows"]).all()
    assert a["max_input_ts"].isna().equals(b["max_input_ts"].isna())
    both = ~a["max_input_ts"].isna()
    assert (a.loc[both, "max_input_ts"] == b.loc[both, "max_input_ts"]).all()
    for col in ("slow_vec", "fast_vec", "fused_vec"):
        va = np.array(a[col].tolist())
        vb = np.array(b[col].tolist())
        np.testing.assert_array_equal(va, vb, err_msg=f"{trunc}:{col}")


def test_auto_chunk_decision(spark, pages_df):
    """VERDICT r3 #6: with no caller flag, the flagship picks the
    chunked plan iff some entity's row count reaches the threshold —
    skewed corpora chunk, uniform corpora stay on the plain plan, and
    both remain value-exact (parity is test_chunked_flagship_exact_
    parity's job; here we assert the CHOICE and the plan shape)."""
    from slowfast_feature_extractor_spark.plans.featurize import auto_chunk_decision

    # uniform fixture: a handful of rows per url -> plain
    assert auto_chunk_decision(pages_df, "url", threshold=50_000) is None
    # hot-entity regime (tiny threshold stands in for 50k at fixture scale)
    assert auto_chunk_decision(pages_df, "url", threshold=2) == "day"

    def plan(df):
        return df._jdf.queryExecution().toString()

    plain = featurize_pages(pages_df)  # auto -> plain on uniform data
    chunked = featurize_pages(pages_df, auto_chunk_threshold=2)  # auto -> chunked
    # the chunk-carry machinery's fingerprint is the __chunk key column
    # (r7: the carry fold is pure JVM — no grouped-map python node)
    assert "__chunk" not in plan(plain)
    assert "__chunk" in plan(chunked)


def test_chunked_flagship_rejects_bad_args(pages_df):
    with pytest.raises(ValueError, match="chunk_trunc"):
        featurize_pages(pages_df, chunk_trunc="hour")
    with pytest.raises(ValueError, match="fast_rows"):
        featurize_pages(pages_df, fast_rows=99, slow_rows=8, chunk_trunc="day")


@pytest.mark.parametrize("subdir", ["", SCAN_DIR_ENCODED], ids=["plain", "percent_encoded"])
def test_auto_chunk_zero_jobs_on_bare_scan(spark, tmp_path, pages_pd, subdir):
    """VERDICT r4 #6: composing featurize_pages over a parquet SCAN runs
    ZERO Spark jobs at any input size — below the threshold the footer
    row bound decides, above it the driver-side pyarrow row-group
    sketch decides. The eager groupBy is reserved for composed
    (join/explode/union) inputs, where footers under-count. A table
    under a directory that ``inputFiles()`` lists percent-encoded
    (space, ``%``) keeps the contract and the exact footer count."""
    from slowfast_feature_extractor_spark.plans.featurize import (
        _hot_entity_sketch,
        _plan_is_bare_scan,
        auto_chunk_decision,
        featurize_pages,
    )
    from slowfast_feature_extractor_spark.sources.pages import pages_spark_schema
    from slowfast_feature_extractor_spark.sources.tables import scan_stats

    path = str(tmp_path / subdir / "pages.parquet")
    spark.createDataFrame(pages_pd, schema=pages_spark_schema()).repartition(
        4
    ).write.parquet(path)
    df = spark.read.parquet(path)
    assert _plan_is_bare_scan(df)
    assert not _plan_is_bare_scan(df.unionByName(df))
    assert not _plan_is_bare_scan(df.join(df.select("url"), "url"))
    stats = scan_stats(df)
    assert stats.rows == len(pages_pd)  # exact, from footers

    tracker = spark.sparkContext.statusTracker()

    # case 1: footer total below threshold -> plain, zero jobs
    before = tracker.getJobIdsForGroup(None)
    out = featurize_pages(df, auto_chunk_threshold=50_000)  # plan only
    assert tracker.getJobIdsForGroup(None) == before
    assert "__chunk" not in out._jdf.queryExecution().toString()

    # case 2: total ABOVE threshold, uniform corpus -> the pyarrow
    # sketch sees no hot entity -> plain, still zero jobs
    n_rows = len(pages_pd)
    before = tracker.getJobIdsForGroup(None)
    assert auto_chunk_decision(df, "url", threshold=n_rows - 1) is None
    assert tracker.getJobIdsForGroup(None) == before

    # case 3: total above threshold, hot entity holds >= threshold rows
    # -> sketch flags it -> chunked, zero jobs
    hot = _hot_entity_sketch(stats, "url")
    per_url = pages_pd.groupby("url").size().max()
    assert hot is not None and hot >= per_url * 0.5
    before = tracker.getJobIdsForGroup(None)
    assert auto_chunk_decision(df, "url", threshold=int(per_url)) == "day"
    assert tracker.getJobIdsForGroup(None) == before

    # composed input: falls back to ONE exact groupBy, memoized
    joined = df.join(df.select("url").distinct(), "url")
    before = tracker.getJobIdsForGroup(None)
    d1 = auto_chunk_decision(joined, "url", threshold=2)
    after_first = tracker.getJobIdsForGroup(None)
    assert d1 == "day" and len(after_first) > len(before)
    d2 = auto_chunk_decision(joined, "url", threshold=2)
    assert d2 == "day"
    assert tracker.getJobIdsForGroup(None) == after_first  # memoized


def test_auto_chunk_reads_each_footer_once(spark, tmp_path, pages_pd, monkeypatch):
    """An above-threshold decision on a bare scan takes the row total
    and the hot-entity sample from ONE footer pass: each file's footer
    is parsed once, and the sampled row groups are read through the
    metadata already in hand."""
    import pyarrow.parquet as pq

    from slowfast_feature_extractor_spark.plans.featurize import auto_chunk_decision
    from slowfast_feature_extractor_spark.sources.pages import pages_spark_schema

    path = str(tmp_path / "pages.parquet")
    spark.createDataFrame(pages_pd, schema=pages_spark_schema()).repartition(
        8
    ).write.parquet(path)
    df = spark.read.parquet(path)
    footer_reads: dict = {}
    real = pq.ParquetFile

    def counting(source, *args, **kwargs):
        if kwargs.get("metadata") is None:
            footer_reads[source] = footer_reads.get(source, 0) + 1
        return real(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    per_url = int(pages_pd.groupby("url").size().max())
    assert auto_chunk_decision(df, "url", threshold=per_url) == "day"
    assert len(footer_reads) == 8
    assert set(footer_reads.values()) == {1}, footer_reads
