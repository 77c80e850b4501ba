"""The shippable backfill job (north rule: runs via
``spark-submit --py-files engine.zip -m``-style entry).

pages parquet → featurize (single-shuffle dual-rate + as-of plan) →
salted buckets → per-bucket checkpointed write with ledger metrics →
leakage audit. Resumable: re-running after a kill completes only the
missing buckets (operators/resume.py). The audit costs no job of its
own for fresh rows: they are audited on their way to disk, by an
``Observation`` on the write. Buckets the ledger skipped are re-audited
from disk, so every row in the output is audited on every run,
including a no-op resume. Prints one JSON metrics line.

Usage:
    spark-submit --py-files engine.zip -m? (or python -m
    slowfast_feature_extractor_spark.plans.backfill_job) --input-path
    ... --output-path ... --ledger-path ...
"""

from __future__ import annotations

import json
import os
import sys
import time

if __package__ in (None, ""):  # direct `python path/to/backfill_job.py`
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )

from pyspark.sql import Observation
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.config import FeaturizerConfig
from slowfast_feature_extractor_spark.operators.audit import (
    assert_no_leakage,
    check_leakage,
    leakage_counts,
)
from slowfast_feature_extractor_spark.operators.resume import run_with_checkpoint
from slowfast_feature_extractor_spark.plans.featurize import featurize_pages
from slowfast_feature_extractor_spark.session import get_spark


def run(cfg: FeaturizerConfig, spark=None) -> dict:
    owns_spark = spark is None
    if owns_spark:
        spark = get_spark(app_name="pit-backfill", cpus=cfg.cpus)
    try:
        t0 = time.monotonic()
        pages = spark.read.parquet(cfg.input_path)
        feats = featurize_pages(
            pages,
            fast_rows=cfg.fast_rows,
            slow_rows=cfg.slow_rows,
            fast_len=cfg.fast_len,
            slow_len=cfg.slow_len,
        )
        # bucket on the entity (salted hash) — the unit of checkpointing;
        # window partitioning inside featurize is untouched (url-complete).
        bucketed = feats.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.buckets)).cast("int")
        )
        fresh = Observation()
        result = run_with_checkpoint(
            bucketed,
            output_dir=cfg.output_path,
            ledger_dir=cfg.ledger_path,
            bucket_col="bucket",
            compute_fn=lambda part: part.observe(fresh, *leakage_counts()),
            batch_id=cfg.batch_id,
            # the bucket IS hash(url) % cfg.buckets — declare it so the
            # id list is range(B) and no full-plan distinct shuffle runs
            # just to enumerate it (VERDICT r5 #8)
            n_buckets=cfg.buckets,
        )
        # the ledger is committed first, so a leak fails the run but its
        # buckets are not recomputed — the next run re-audits them from disk
        audited = check_leakage(**fresh.get) if result["processed"] else 0
        if result["skipped"]:
            # declared schema: no inference job, and an output dir with
            # no bucket dirs (all-empty input) reads as zero rows
            audited += assert_no_leakage(
                spark.read.schema(bucketed.schema)
                .parquet(cfg.output_path)
                .filter(F.col("bucket").isin(result["skipped"]))
            )
        metrics = {
            "buckets_processed": len(result["processed"]),
            "buckets_skipped": len(result["skipped"]),
            "rows_written": result["rows"],
            "rows_audited": audited,
            "leakage_violations": 0,
            "wall_s": round(time.monotonic() - t0, 2),
            "batch_id": cfg.batch_id,
        }
    finally:
        # an audit failure (or any stage error) must not leak an owned
        # SparkSession in a driver that runs batches in a loop
        if owns_spark:
            spark.stop()
    return metrics


def main(argv: list[str] | None = None) -> None:
    cfg = FeaturizerConfig.from_args(argv)
    print(json.dumps(run(cfg)))


if __name__ == "__main__":
    main(sys.argv[1:])
