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
from typing import NamedTuple
from urllib.parse import unquote, urlparse

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
    target = sc.defaultParallelism * factor
    threshold = max(2, target // 2)
    try:
        files = df.inputFiles()
        packed = _packed_splits(df, files)
        if len(files) >= threshold and (packed is None or packed[0] >= threshold):
            return df
        if min_bytes > 0 and packed is not None and packed[1] < min_bytes:
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


def _packed_splits(df: DataFrame, files: list[str]) -> tuple[int, int] | None:
    """(estimated splits, total bytes) of a local file scan, statting
    each file once. Splits follow Spark's file bin-packing,
    ceil(Σ(size + openCost) / maxPartitionBytes), with both sizes read
    from the session's own parsed conf. None when any file is not
    local or cannot be statted — the caller then trusts the raw file
    count."""
    paths = local_paths(files)
    if paths is None:
        return None
    try:
        sizes = [os.path.getsize(p) for p in paths]
    except OSError:
        return None
    total = sum(sizes)
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    packed = total + len(sizes) * conf.filesOpenCostInBytes()
    return max(1, math.ceil(packed / conf.filesMaxPartitionBytes())), total


def local_paths(files: list[str]) -> list[str] | None:
    """``inputFiles()`` URIs as local filesystem paths, percent-decoded
    (a table under ``with space/`` is listed as ``with%20space/``).
    None when there are no files or any file is not local."""
    paths = []
    for f in files:
        uri = urlparse(f)
        if uri.scheme not in ("", "file") or uri.netloc:
            return None
        paths.append(unquote(uri.path))
    return paths or None


# footers one scan_stats call reads at most; at or below it the row
# count is exact
_MAX_FOOTERS = 256


class ScanStats(NamedTuple):
    """Plan-time statistics of a scan, gathered without a Spark job.

    ``rows`` is the exact parquet footer total when the scan has at
    most 256 local files; above that, the total of an evenly strided
    256 footers scaled by the file count; for inputs that are not
    readable parquet files, Catalyst's ``rowCount`` statistic; else
    None. ``units`` are the read footers' ``(path, row_group, rows)``
    and ``footers`` their metadata by path (both empty when no footer
    was read). Scan-level filters make ``rows`` an over-count, so it
    serves performance decisions only."""

    rows: int | None
    units: list[tuple[str, int, int]]
    footers: dict

    def read_column(self, path: str, row_group: int, column: str):
        """One row group's ``column`` (a pyarrow ChunkedArray), reusing
        the footer this pass already read."""
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path, metadata=self.footers[path])
        return pf.read_row_group(row_group, columns=[column]).column(0)


def scan_stats(df: DataFrame) -> ScanStats:
    """The one footer pass behind every plan-time size decision (the
    auto-chunk chooser, the blocked ANN guards)."""
    try:
        paths = local_paths(df.inputFiles())
    except Exception:
        paths = None
    if paths is not None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        try:
            sample = paths[:: max(1, len(paths) // _MAX_FOOTERS)][:_MAX_FOOTERS]
            footers = {p: pq.ParquetFile(p).metadata for p in sample}
            units = [
                (p, i, m.row_group(i).num_rows)
                for p, m in footers.items()
                for i in range(m.num_row_groups)
            ]
            rows = sum(m.num_rows for m in footers.values())
            return ScanStats(rows * len(paths) // len(sample), units, footers)
        except (OSError, pa.ArrowException):
            pass  # not readable parquet: Catalyst's estimate below
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if rc.isDefined():
            return ScanStats(int(str(rc.get())), [], {})
    except Exception:
        pass
    return ScanStats(None, [], {})


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {
        name: spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        for name in TABLE_NAMES
    }
