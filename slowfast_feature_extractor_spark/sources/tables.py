"""Loaders for the driver-provided parquet tables (TESTDATA.md).

Plain ``spark.read.parquet`` — Catalyst handles column pruning and
predicate pushdown into the parquet scan. On a production deployment
these become Iceberg catalog reads (``spark.read.table``) with identical
downstream plans; the engine never assumes anything about the source
beyond the schema.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def parallelize_scan(
    df: DataFrame,
    factor: int = 1,
    barrier: bool = True,
    min_bytes: int = 0,
) -> DataFrame:
    """Guard against pathological single-split scans.

    At production scale inputs are thousands of parquet files and the
    scan parallelizes for free; the sandbox tables are single-file,
    single-row-group parquet, which Spark cannot split — every map-only
    stage after such a scan would run in ONE task no matter how many
    cores exist. When (and only when) the scan has fewer partitions than
    the cluster's parallelism, round-robin repartition it. Stages that
    shuffle anyway (groupBy/window/join) should NOT use this — their
    exchange already redistributes.

    The partition probe via ``df.rdd`` forces an eager plan→RDD
    conversion, so it is gated behind a cheap estimate: FileSourceScan
    bin-packs small files (maxPartitionBytes / openCostInBytes), so raw
    file count over-estimates split count — a thousand tiny files can
    still scan as one or two partitions (ADVICE r2). When the files are
    stat-able, estimate packed splits the way Spark does
    (ceil(Σ(size + openCost) / maxSplitBytes)) and skip the probe only
    when THAT clears the threshold; when they are not stat-able (object
    store), fall back to the file-count gate so production scans never
    pay the RDD conversion.

    ``barrier=False`` (r7) skips the pushdown barrier: right for tables
    whose predicates are CHEAP and selective enough that keeping them
    pushed at the scan (parquet stats pruning, fewer shuffled rows)
    beats evaluating them on all cores — lineitem/events-style
    relational scans feeding a partial aggregate or broadcast-join
    probe. The repartition still spreads everything above the scan
    (the partial agg, the BHJ probes) across the cluster; only
    text-predicate scans (``_docs``/``_emb``) need the barrier.

    ``min_bytes`` (r7): skip the repartition entirely when the
    stat-able input is smaller than this. The exchange has a fixed
    cost (serialize + write + read every row), so spreading only pays
    once the downstream per-row work over the scanned volume clearly
    exceeds it — measured on the broadcast-probe shape: 600 k rows
    REGRESSED 0.79→1.59 s under the repartition while 6 M rows
    improved 2.98→1.90 s. Callers with cheap-per-row downstream work
    should pass a floor (64 MB here ≈ several real splits' worth);
    expensive-per-row callers (text predicates, from_json) keep the
    default 0. Unstat-able inputs skip the gate — at object-store
    scale the input is never this small."""
    sc = df.sparkSession.sparkContext
    conf = df.sparkSession.conf
    target = sc.defaultParallelism * factor
    threshold = max(2, target // 2)
    try:
        files = df.inputFiles()
        if len(files) >= threshold:
            est = _estimated_splits(files, conf)
            if est is None or est >= threshold:
                return df
        if min_bytes > 0:
            total = _total_bytes(files)
            if total is not None and total < min_bytes:
                return df
    except Exception:
        pass  # non-file source: fall through to the partition probe
    if df.rdd.getNumPartitions() < threshold:
        from pyspark.sql import functions as F

        # The repartition alone is NOT enough: Catalyst pushes every
        # deterministic filter back through a Repartition to the scan,
        # so an expensive predicate (language gate, quality score —
        # whole split/filter cascades over text) runs inside the
        # SINGLE-SPLIT scan task and serializes the query no matter how
        # many cores exist (measured: the corpus-clean chain at sf1.0 is
        # 5.1 s with the filter at the scan vs 1.3 s spread over 32
        # cores). The tautological nondeterministic filter is a pushdown
        # barrier — CombineFilters/PushPredicateThroughNonJoin refuse to
        # cross a nondeterministic condition — while costing one integer
        # compare per row; column pruning is attribute-based and still
        # reaches the scan through it.
        rep = df.repartition(target)
        return rep.where(F.spark_partition_id() >= 0) if barrier else rep
    return df


def _estimated_splits(files: list[str], conf) -> int | None:
    """Spark's file bin-packing estimate; None when files can't be statted
    (non-local URIs) — caller then trusts the raw file count."""
    max_split = _bytes_conf(conf, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
    open_cost = _bytes_conf(conf, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024)
    total = 0
    for f in files:
        path = f[7:] if f.startswith("file://") else f if f.startswith("/") else None
        if path is None:
            return None
        try:
            total += os.path.getsize(path) + open_cost
        except OSError:
            return None
    return max(1, math.ceil(total / max_split))


def _total_bytes(files: list[str]) -> int | None:
    """Sum of stat-able local file sizes; None when any path is not a
    local file (the min_bytes gate then stays out of the way)."""
    total = 0
    for f in files:
        path = f[7:] if f.startswith("file://") else f if f.startswith("/") else None
        if path is None:
            return None
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return total


def _bytes_conf(conf, key: str, default: int) -> int:
    raw = str(conf.get(key, str(default))).strip().lower()
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4, "b": 1}
    # Spark accepts '128m' and '128mb' alike (JavaUtils.byteStringAs);
    # drop a trailing 'b' after another unit letter so both parse here
    # instead of falling back to the eager partition probe (ADVICE r3).
    if len(raw) >= 2 and raw[-1] == "b" and raw[-2] in units and raw[-2] != "b":
        raw = raw[:-1]
    if raw and raw[-1] in units:
        return int(float(raw[:-1]) * units[raw[-1]])
    return int(raw)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {
        name: spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        for name in TABLE_NAMES
    }
