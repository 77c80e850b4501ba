"""Spark-native synthetic generators: determinism, monotone timestamps,
extractable HTML."""

from __future__ import annotations

from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.functions.extraction import extract_text
from slowfast_feature_extractor_spark.sources.synth import (
    synth_embeddings,
    synth_events,
    synth_pages,
)


def test_pages_deterministic_and_monotone(spark):
    a = synth_pages(spark, n_urls=50, revisits=6).orderBy("url", "warc_ts").collect()
    b = synth_pages(spark, n_urls=50, revisits=6).orderBy("url", "warc_ts").collect()
    assert a == b  # same args ⇒ identical table
    assert len(a) == 300
    last = {}
    for r in a:
        if r["url"] in last:
            assert r["warc_ts"] > last[r["url"]], "warc_ts must be monotone per url"
        last[r["url"]] = r["warc_ts"]
    t = extract_text(bytes(a[0]["html"]))
    assert t and "&amp;" not in t and "<p>" not in t  # tags gone, entities decoded
    assert " & " in t and "<end>" in t  # decoded entity text survives


def test_events_shape(spark):
    ev = synth_events(spark, n_users=20, events_per_user=10)
    assert ev.count() == 200
    r = ev.agg(F.countDistinct("event_type"), F.min("value"), F.max("user_id")).collect()[0]
    assert r[0] == 5 and r[1] >= 0 and r[2] == 19
    cents = ev.filter(F.round(F.col("value") * 100).cast("long") != F.col("value_cents"))
    assert cents.count() == 0


def test_embeddings_shape(spark):
    e = synth_embeddings(spark, n=100, dim=16)
    rows = e.collect()
    assert len(rows) == 100 and all(len(r["embedding"]) == 16 for r in rows)
    flat = [x for r in rows for x in r["embedding"]]
    assert min(flat) >= -1.0 and max(flat) <= 1.0


def test_bytes_conf_suffix_parsing(spark, tmp_path):
    """ADVICE r3: Spark accepts both '128m' and '128mb' spellings
    (JavaUtils.byteStringAs). parallelize_scan's split estimate reads
    the session's parsed byte sizes, so suffixed values count as bytes
    instead of sending the scan to the eager partition probe. The table
    sits under a percent-encoded directory, so the estimate also shows
    the paths resolve."""
    import os

    from conftest import SCAN_DIR_ENCODED

    from slowfast_feature_extractor_spark.sources.tables import _packed_splits

    path = str(tmp_path / SCAN_DIR_ENCODED / "t.parquet")
    spark.range(40).repartition(4).write.parquet(path)
    df = spark.read.parquet(path)
    files = df.inputFiles()
    sizes = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    )
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = [spark.conf.get(k) for k in keys]
    try:
        # 4 files at 64 MB open cost each: 256 MB + the bytes themselves
        spark.conf.set(keys[1], "64mb")
        for raw, want in (("128mb", 3), ("1gb", 1)):
            spark.conf.set(keys[0], raw)
            assert _packed_splits(df, files) == (want, sizes), raw
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)


def test_local_paths_decode_input_file_uris():
    """``inputFiles()`` URIs resolve to percent-decoded local paths; any
    non-local file (or no file) leaves nothing to stat."""
    from slowfast_feature_extractor_spark.sources.tables import local_paths

    assert local_paths(
        ["file:///d/with%20space%2541dir/a.parquet", "file:/d/b.parquet", "/d/c.parquet"]
    ) == ["/d/with space%41dir/a.parquet", "/d/b.parquet", "/d/c.parquet"]
    assert local_paths(["file:///d/a.parquet", "s3a://bucket/b.parquet"]) is None
    assert local_paths(["hdfs://nn:8020/d/a.parquet"]) is None
    assert local_paths([]) is None
