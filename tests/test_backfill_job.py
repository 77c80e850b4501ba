"""End-to-end shippable job: config parsing, checkpointed run, resume,
audit metrics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.config import FeaturizerConfig
from slowfast_feature_extractor_spark.operators.resume import ledger_read
from slowfast_feature_extractor_spark.plans import backfill_job
from slowfast_feature_extractor_spark.plans.backfill_job import run
from slowfast_feature_extractor_spark.sources.pages import pages_spark_schema


def _cfg(inp, tmp_path):
    return FeaturizerConfig(
        input_path=inp,
        output_path=str(tmp_path / "features"),
        ledger_path=str(tmp_path / "ledger"),
        buckets=4,
        batch_id="test-1",
    )


def _write_pages(spark, pages_pd, tmp_path):
    inp = str(tmp_path / "pages")
    spark.createDataFrame(pages_pd, schema=pages_spark_schema()).write.parquet(inp)
    return inp


def test_config_from_args():
    base = ["--input-path", "/i", "--output-path", "/o", "--ledger-path", "/l"]
    cfg = FeaturizerConfig.from_args(base + ["--fast-rows", "16"])
    assert cfg.input_path == "/i" and cfg.fast_rows == 16 and cfg.slow_rows == 64
    with pytest.raises(SystemExit):  # the job never read a session gap
        FeaturizerConfig.from_args(base + ["--session-gap-s", "60.5"])


def test_backfill_job_end_to_end(spark, pages_pd, tmp_path):
    cfg = _cfg(_write_pages(spark, pages_pd, tmp_path), tmp_path)
    m = run(cfg, spark=spark)
    assert m["rows_written"] == len(pages_pd)
    assert m["rows_audited"] == len(pages_pd)
    assert m["leakage_violations"] == 0
    assert m["buckets_processed"] >= 1 and m["buckets_skipped"] == 0

    # resume on a completed run is a no-op that still audits
    m2 = run(cfg, spark=spark)
    assert m2["buckets_processed"] == 0
    assert m2["buckets_skipped"] == m["buckets_processed"]
    assert m2["rows_audited"] == len(pages_pd)


def test_backfill_job_empty_input(spark, tmp_path):
    """A schema-only input writes an output dir with no bucket dirs; the
    first run and the no-op resume both report zero-row metrics."""
    inp = str(tmp_path / "pages")
    spark.createDataFrame([], schema=pages_spark_schema()).write.parquet(inp)
    cfg = _cfg(inp, tmp_path)
    m = run(cfg, spark=spark)
    assert (m["rows_written"], m["rows_audited"], m["buckets_processed"]) == (0, 0, 4)
    m2 = run(cfg, spark=spark)
    assert (m2["rows_written"], m2["rows_audited"], m2["buckets_skipped"]) == (0, 0, 4)


def test_backfill_job_partial_resume_audits_every_row(spark, pages_pd, tmp_path):
    """Buckets whose ledger records are missing are rewritten and audited
    on their way to disk; the committed ones are re-audited from disk."""
    cfg = _cfg(_write_pages(spark, pages_pd, tmp_path), tmp_path)
    run(cfg, spark=spark)
    lost = [0, 1]
    lost_rows = sum(ledger_read(cfg.ledger_path)[b]["n_rows"] for b in lost)
    for b in lost:
        os.remove(os.path.join(cfg.ledger_path, f"bucket-{b}.json"))
    m = run(cfg, spark=spark)
    assert (m["buckets_processed"], m["buckets_skipped"]) == (2, 2)
    assert m["rows_written"] == lost_rows
    assert m["rows_audited"] == len(pages_pd)


def test_backfill_job_fails_on_leaky_fresh_rows(spark, pages_pd, tmp_path, monkeypatch):
    """A leaking row among the rows being written fails the run with the
    violation count, after the ledger is committed (same order as a
    separate audit would give)."""
    leaky_url = pages_pd["url"].iloc[0]
    n_leaky = int((pages_pd["url"] == leaky_url).sum())
    featurize = backfill_job.featurize_pages

    def leaky(pages, **kw):
        feats = featurize(pages, **kw)
        return feats.withColumn(
            "max_input_ts",
            F.when(F.col("url") == leaky_url, F.col("warc_ts")).otherwise(
                F.col("max_input_ts")
            ),
        )

    monkeypatch.setattr(backfill_job, "featurize_pages", leaky)
    cfg = _cfg(_write_pages(spark, pages_pd, tmp_path), tmp_path)
    with pytest.raises(AssertionError, match=f"temporal leakage: {n_leaky} rows"):
        run(cfg, spark=spark)
    assert set(ledger_read(cfg.ledger_path)) == set(range(4))


def test_backfill_job_resume_reaudits_committed_buckets(spark, pages_pd, tmp_path):
    """A leaking row planted in an already-committed bucket is caught by
    the next no-op resume, which audits skipped buckets from disk."""
    cfg = _cfg(_write_pages(spark, pages_pd, tmp_path), tmp_path)
    run(cfg, spark=spark)
    bucket_dir = os.path.join(cfg.output_path, "bucket=0")
    stored = spark.read.parquet(bucket_dir)
    row = stored.limit(1).withColumn("max_input_ts", F.col("warc_ts")).collect()
    spark.createDataFrame(row, stored.schema).write.mode("append").parquet(bucket_dir)
    with pytest.raises(AssertionError, match="temporal leakage: 1 rows"):
        run(cfg, spark=spark)
