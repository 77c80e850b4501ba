"""Feature-table sinks with the physical layout SURVEY.md §4 prescribes
for the 10^12-row target: partitioned by day(warc_ts) + bucketed by url
hash, so (a) time-range queries prune partitions at the scan and (b)
entity-keyed reads touch one bucket. On Iceberg this is
``PARTITIONED BY (days(warc_ts), bucket(N, url))`` with snapshot-atomic
commits; on plain parquet (sandbox) it is directory partitioning —
identical downstream plans either way."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import partitioning as P

_ICEBERG_CATALOG_CLASSES = (
    "org.apache.iceberg.spark.SparkCatalog",
    "org.apache.iceberg.spark.SparkSessionCatalog",
)


def iceberg_available(spark: SparkSession, catalog: str = "spark_catalog") -> bool:
    """True when ``catalog`` is backed by an Iceberg catalog
    implementation — the flag that switches the sink/resume paths from
    directory-partitioned parquet (sandbox) to Iceberg tables with
    snapshot-atomic commits (production)."""
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", "")
    except Exception:
        impl = ""
    return impl in _ICEBERG_CATALOG_CLASSES


def fp16_pack_udf():
    """Arrow-batched array<float> → binary fp16 pack (little-endian
    IEEE 754 half per element) — the engine analog of the reference's
    ``save_as_float16`` export option (reference/just_test_v1.py:
    705-711): halves feature-sink bytes at ~1e-3 relative precision.
    The cast runs as ONE numpy astype over the batch's flattened
    values (equal-length fast path — feature vectors are fixed-length
    by construction); only the final per-row ``tobytes`` split is a
    Python loop over views. Ragged/null batches fall back per-row."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _pack(vs: pd.Series) -> pd.Series:
        vals = vs.tolist()
        # rows may arrive as numpy arrays: `None in vals` would compare
        # elementwise — use identity checks
        has_null = any(v is None for v in vals)
        lens = {len(v) for v in vals if v is not None}
        if len(lens) == 1 and not has_null:
            d = lens.pop()
            flat = np.asarray(vals, dtype="<f2").reshape(len(vals), d)
            return pd.Series([row.tobytes() for row in flat], index=vs.index)
        return vs.map(
            lambda v: None
            if v is None
            else np.asarray(v, dtype="<f2").tobytes()
        )

    return _pack


def fp16_unpack_udf():
    """binary fp16 → array<float> (the read-side inverse of
    :func:`fp16_pack_udf`; values are exactly the fp16-rounded
    originals). Equal-length batches cast in one numpy pass, like the
    pack side."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def _unpack(bs: pd.Series) -> pd.Series:
        raw = [None if b is None else bytes(b) for b in bs]
        lens = {len(b) for b in raw if b is not None}
        if len(lens) == 1 and not any(b is None for b in raw):
            n = len(raw)
            flat = (
                np.frombuffer(b"".join(raw), dtype="<f2")
                .astype("float32")
                .reshape(n, -1)
            )
            return pd.Series([row.tolist() for row in flat], index=bs.index)
        return pd.Series(
            [
                None
                if b is None
                else np.frombuffer(b, dtype="<f2").astype("float32").tolist()
                for b in raw
            ],
            index=bs.index,
        )

    return _unpack


def write_features(
    df: DataFrame,
    path: str,
    ts_col: str = "warc_ts",
    entity_col: str = "url",
    buckets: int = 16,
    mode: str = "overwrite",
    half_precision_cols: tuple[str, ...] = (),
) -> None:
    """Write partitioned by (day, url-hash bucket).

    ``half_precision_cols`` names array<float> columns to store as
    packed fp16 binary (cast-on-write, reference's save_as_float16
    analog); :func:`read_features` unpacks them back transparently.

    ``mode="overwrite"`` overwrites DYNAMICALLY — only the (day,
    bucket) partitions present in ``df`` are replaced, matching the
    Iceberg twin's ``overwritePartitions`` semantics. Spark's default
    is STATIC overwrite, which would wipe the whole historical table
    on an incremental re-run of one day's batch."""
    out = df.withColumn("day", F.to_date(F.col(ts_col))).withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(entity_col)), F.lit(buckets)).cast("int")
    )
    if half_precision_cols:
        pack = fp16_pack_udf()
        for c in half_precision_cols:
            out = out.withColumn(c, pack(F.col(c)))
    (
        out.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day", "bucket")
        .parquet(path)
    )


def feature_table_writer(
    df: DataFrame,
    table: str,
    ts_col: str = "warc_ts",
    entity_col: str = "url",
    buckets: int = 16,
):
    """The Iceberg DataFrameWriterV2 for the SURVEY §4 layout —
    ``PARTITIONED BY (days(ts), bucket(N, entity))`` with hidden
    partitioning (no materialized day/bucket columns; Iceberg derives
    them, and time-range/entity predicates prune at the scan). Returned
    unexecuted so callers pick the commit verb and tests can build the
    chain without a catalog."""
    return df.writeTo(table).partitionedBy(
        P.days(F.col(ts_col)), P.bucket(buckets, F.col(entity_col))
    )


def last_snapshot_id(spark: SparkSession, table: str) -> int | None:
    """Latest Iceberg snapshot id of ``table`` (the commit handle the
    snapshot ledger records for lineage/rollback)."""
    rows = spark.sql(
        f"SELECT snapshot_id FROM {table}.snapshots "
        "ORDER BY committed_at DESC LIMIT 1"
    ).collect()
    return int(rows[0][0]) if rows else None


def read_features(
    spark: SparkSession,
    path: str,
    start_day: str | None = None,
    end_day: str | None = None,
    half_precision_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Read back; day predicates prune partition directories (check
    `.explain` → PartitionFilters). ``half_precision_cols`` unpacks
    fp16-binary columns written by ``write_features(...,
    half_precision_cols=...)`` back to array<float> AFTER the partition
    filters (pruning stays scan-level)."""
    df = spark.read.parquet(path)
    if start_day:
        df = df.filter(F.col("day") >= start_day)
    if end_day:
        df = df.filter(F.col("day") < end_day)
    if half_precision_cols:
        unpack = fp16_unpack_udf()
        for c in half_precision_cols:
            df = df.withColumn(c, unpack(F.col(c)))
    return df


def compact_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    order_by: list[str] | None = None,
) -> dict:
    """Small-file compaction — the table-maintenance pass every
    long-lived 10^12-row table needs (Iceberg's ``rewrite_data_files``
    re-expressed on plain parquet): a streaming ingest or a
    high-parallelism write leaves thousands of KB-scale files whose
    per-file open/footer cost dominates later scans. Reads the
    directory, sizes the target file count from ACTUAL on-disk bytes
    (parquet footers via the file index — no Spark job), and rewrites
    with ``repartitionByRange`` over ``order_by`` (clustering
    preserved for range-pruned reads; hash repartition when no order
    given) into an atomic swap directory. Returns
    {files_before, files_after, bytes} for the maintenance log.

    Atomicity on plain parquet is rename-based (write to ``<path>
    ._compact_tmp``, swap); on Iceberg the same logic is a snapshot
    commit and readers never observe a partial state. A crash between
    the two swap renames leaves ``<path>._compact_old`` holding the
    complete pre-compaction data; the next call detects and completes
    the recovery, and stale tmp/old directories from any earlier
    failure are cleared up front so a crash can never wedge later
    compactions. Hive-partitioned layouts (``key=val/`` subdirs) are
    refused — rewriting them flat would silently destroy partition
    pruning; compact each leaf partition directory instead."""
    import os
    import shutil

    tmp = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._compact_old"
    # crash recovery: a previous run that died mid-swap left the data
    # under `old` (and possibly no live `path` at all)
    if os.path.isdir(old) and not os.path.isdir(path):
        os.rename(old, path)
    for stale in (tmp, old):
        if os.path.isdir(stale):
            shutil.rmtree(stale)

    entries = os.listdir(path)
    if any("=" in e and os.path.isdir(os.path.join(path, e)) for e in entries):
        raise NotImplementedError(
            "compact_files on a Hive-partitioned layout would flatten it; "
            "compact each leaf partition directory instead"
        )
    files = [os.path.join(path, f) for f in entries if f.endswith(".parquet")]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_bytes))  # ceil, no Spark job
    df = spark.read.parquet(path)
    if order_by:
        out = df.repartitionByRange(n_out, *[F.col(c) for c in order_by])
        writer = out.sortWithinPartitions(*order_by).write
    else:
        out = df.repartition(n_out)
        writer = out.write
    writer.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    return {"files_before": len(files), "files_after": after, "bytes": total}
