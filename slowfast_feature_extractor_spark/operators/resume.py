"""Per-partition checkpoint ledger + exact resume.

The reference resumes by checking output-file existence per segment
(reference/test_net.py:381-385) — racy and non-transactional. The engine
formalizes it: the unit of work is a *bucket* (deterministic hash of the
entity key), each bucket's output commit is followed by a ledger record
(bucket, n_rows, wall_ms, batch_id), and resume = anti-join of the
bucket list against the ledger. A kill between data-write and
ledger-write makes the bucket re-run and overwrite — idempotent because
every stage is deterministic (no wall-clock or RNG on the data path,
mirroring the reference's seeding discipline,
reference/just_test_v1.py:1446-1447).

On Iceberg the ledger is a table and the data commit is a snapshot; on
plain parquet (this sandbox) the ledger is one file per bucket, which is
atomic at the filesystem level. All pending buckets are written in ONE
distributed pass (``write.partitionBy(bucket)`` with dynamic partition
overwrite) — the upstream plan is computed exactly once regardless of
bucket count. The ledger's per-bucket row counts come from an
``Observation`` on that same write, never from reading the output back:
one ``count_if`` per pending bucket plus one for NULL buckets. It is the
last transform before the sink, so it runs in the write's result stage,
where Spark applies each partition's accumulator update exactly once
(a re-run shuffle-map stage would count its rows again).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def ledger_read(ledger_dir: str) -> dict[int, dict]:
    """Committed buckets → their metrics records. Pure local-filesystem
    JSON — no Spark involvement."""
    out: dict[int, dict] = {}
    if not os.path.isdir(ledger_dir):
        return out
    for name in os.listdir(ledger_dir):
        if name.startswith("bucket-") and name.endswith(".json"):
            with open(os.path.join(ledger_dir, name)) as f:
                rec = json.load(f)
            out[rec["bucket"]] = rec
    return out


def _json_bucket(b):
    """Bucket id as a JSON-serializable value WITHOUT changing its type
    (ADVICE r2: int() coercion broke string bucket ids)."""
    return b.item() if hasattr(b, "item") else b


def _ledger_commit(ledger_dir: str, rec: dict) -> None:
    os.makedirs(ledger_dir, exist_ok=True)
    path = os.path.join(ledger_dir, f"bucket-{rec['bucket']}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, path)  # atomic commit of the checkpoint record


def _bucket_ids(df: DataFrame, bucket_col: str, n_buckets: int | None) -> list:
    """The bucket id list. When the caller DECLARES the bucketing
    scheme (``n_buckets`` — the ``hash(entity) % B`` convention every
    engine plan uses), the ids are arithmetically ``range(B)`` and no
    job runs (VERDICT r5 #8: at 10^12 rows the distinct() is a full
    shuffle to learn an enumerable list). Without the declaration the
    ids are discovered with one distinct scan — bucket ids are
    metadata (≤ thousands of values), the only driver-side
    materialization in this operator. An empty declared bucket simply
    commits a zero-row ledger record, same as a filtered-out one."""
    if n_buckets is not None:
        # NULL buckets (a NULL entity key) are detected for free by the
        # write's Observation in _run_pending (they are written to the
        # NULL partition, counted, and the run raises) — never by a
        # pre-scan, which would cost a full job in the common no-null
        # case and defeat the zero-job enumeration.
        return list(range(n_buckets))
    ids = [r[0] for r in df.select(bucket_col).distinct().collect()]
    if any(b is None for b in ids):
        raise ValueError(
            f"bucket column {bucket_col!r} contains NULLs; NULL is not a "
            "checkpointable bucket id (isin/partitionBy both mishandle it) "
            "— fix the upstream key"
        )
    return sorted(ids)


def _run_pending(
    df: DataFrame,
    ledger_dir: str,
    bucket_col: str,
    compute_fn: Callable[[DataFrame], DataFrame] | None,
    max_buckets: int | None,
    batch_id: str,
    n_buckets: int | None,
    commit: Callable[[DataFrame], dict],
) -> dict:
    """The body both writers share. Keep the pending buckets' rows,
    apply ``compute_fn``, observe per-bucket counts as the last
    transform, and hand the result to ``commit`` (one distributed write
    that returns any extra ledger fields). Then raise on NULL buckets or
    commit one ledger record per pending bucket."""
    buckets = _bucket_ids(df, bucket_col, n_buckets)
    done = ledger_read(ledger_dir)
    skipped = [b for b in buckets if b in done]
    pending = [b for b in buckets if b not in done][:max_buckets]
    if not pending:
        return {"processed": [], "skipped": skipped, "rows": 0}

    t0 = time.monotonic()
    bucket = F.col(bucket_col)
    keep = bucket.isin(pending)
    if n_buckets is not None and df.schema[bucket_col].nullable:
        # a NULL bucket (NULL entity key) would be SILENTLY dropped by
        # isin (never matches NULL) while the run reports success. Let
        # such rows through: the observation counts them and the run
        # raises — zero extra jobs in the no-null case.
        keep = keep | bucket.isNull()
    part = df.filter(keep)
    if compute_fn is not None:
        part = compute_fn(part)
    # the last transform, so the counts run in the write's result stage
    seen = Observation()
    extra = commit(part.observe(
        seen,
        F.count_if(bucket.isNull()).alias("null"),
        *(F.count_if(bucket == F.lit(b)).alias(f"b{i}") for i, b in enumerate(pending)),
    ))
    wall_ms = round((time.monotonic() - t0) * 1000, 1)
    counts = seen.get
    if counts["null"]:
        raise ValueError(
            f"bucket column {bucket_col!r} contains NULLs ({counts['null']} "
            "rows, written to the NULL partition but given no ledger record); "
            "a declared hash(entity) % B bucketing cannot produce them — fix "
            "the upstream key (NULL rows are not checkpointable)"
        )
    for i, b in enumerate(pending):
        _ledger_commit(
            ledger_dir,
            {
                "bucket": _json_bucket(b),
                "n_rows": counts[f"b{i}"],
                "wall_ms": wall_ms,
                "batch_id": batch_id,
                **extra,
            },
        )
    rows = sum(counts[f"b{i}"] for i in range(len(pending)))
    return {"processed": pending, "skipped": skipped, "rows": rows}


def run_with_checkpoint(
    df: DataFrame,
    output_dir: str,
    ledger_dir: str,
    bucket_col: str = "bucket",
    compute_fn: Callable[[DataFrame], DataFrame] | None = None,
    max_buckets: int | None = None,
    batch_id: str = "batch-0",
    n_buckets: int | None = None,
) -> dict:
    """Process each bucket of ``df`` (optionally through ``compute_fn``),
    writing ``{output_dir}/bucket={b}`` and committing a ledger record
    per bucket. Already-committed buckets are skipped (exact resume).

    ``max_buckets`` limits this invocation (used by tests to simulate a
    kill). Returns {"processed": [...], "skipped": [...], "rows": int}.

    ``n_buckets`` declares the bucket column as ``hash(entity) % B`` so
    the bucket list is enumerated arithmetically instead of via a
    full-data distinct shuffle (see :func:`_bucket_ids`).

    ``compute_fn`` must be bucket-local (its output for a bucket depends
    only on that bucket's rows — true of any per-entity plan, since the
    bucket is a hash of the entity key): all pending buckets are
    computed and written in a SINGLE distributed pass, not a per-bucket
    driver loop, so the upstream plan is evaluated once total.
    The ledger's ``n_rows`` are observed on that pass, so the call runs
    the same Spark jobs as a bare ``partitionBy`` write; a ``compute_fn``
    may add its own ``observe`` (the backfill job's leakage audit does).
    ``wall_ms`` in each ledger record is the wall time of that single
    pass (shared by the buckets it committed).
    """

    def commit(part: DataFrame) -> dict:
        # dynamic overwrite replaces only the pending bucket partitions,
        # never the committed ones
        (
            part.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(bucket_col)
            .parquet(output_dir)
        )
        return {}

    return _run_pending(
        df, ledger_dir, bucket_col, compute_fn, max_buckets, batch_id, n_buckets, commit
    )


def run_with_checkpoint_iceberg(
    df: DataFrame,
    table: str,
    ledger_dir: str,
    bucket_col: str = "bucket",
    compute_fn: Callable[[DataFrame], DataFrame] | None = None,
    max_buckets: int | None = None,
    batch_id: str = "batch-0",
    n_buckets: int | None = None,
) -> dict:
    """Iceberg variant of :func:`run_with_checkpoint`: the data commit
    is an Iceberg SNAPSHOT (``writeTo(table).overwritePartitions()`` —
    atomic, replaces only the pending buckets' partitions) and every
    ledger record carries the committing ``snapshot_id``, so lineage is
    queryable (``table.snapshots``) and a bad batch is revertible with
    a snapshot rollback. Requires an Iceberg catalog
    (sources.sinks.iceberg_available); raises RuntimeError otherwise —
    the parquet twin above is the sandbox path.

    Same idempotence argument as the parquet path: a kill between the
    snapshot commit and a bucket's ledger write re-runs the bucket and
    overwrite-commits a fresh snapshot of the same partitions.
    """
    from slowfast_feature_extractor_spark.sources.sinks import (
        iceberg_available,
        last_snapshot_id,
    )

    spark = df.sparkSession
    # only a THREE-part name pins an explicit catalog; 'db.tbl' resolves
    # through the session's current catalog, so treating its first part
    # as a catalog name would probe a nonexistent
    # spark.sql.catalog.<db> conf and wrongly refuse a working
    # Iceberg-backed SparkSessionCatalog setup
    parts = table.split(".")
    catalog = parts[0] if len(parts) >= 3 else spark.catalog.currentCatalog()
    if not iceberg_available(spark, catalog):
        raise RuntimeError(
            f"catalog {catalog!r} is not Iceberg-backed; use "
            "run_with_checkpoint (directory-partitioned parquet) instead"
        )

    def commit(part: DataFrame) -> dict:
        if spark.catalog.tableExists(table):
            # existing table keeps its partition spec; replace only the
            # pending buckets' partitions
            part.writeTo(table).overwritePartitions()
        else:
            part.writeTo(table).partitionedBy(F.col(bucket_col)).create()
        return {"snapshot_id": last_snapshot_id(spark, table)}

    return _run_pending(
        df, ledger_dir, bucket_col, compute_fn, max_buckets, batch_id, n_buckets, commit
    )
