"""SparkSession factory tuned for this engine.

Local mode is a single JVM; on a real cluster the same configs apply per
executor. AQE is on so skewed shuffles re-plan at runtime; Arrow is on so
pandas UDFs move columnar batches, never rows (the reference's batched
tensor transfer, reference/just_test_v1.py:1618, maps to Arrow batch size
here).

A registry row's by-products have one owner here: :func:`_scratch`
hands each row its own directory under one per-process root, and
:func:`query_scope` releases what a row created once its sink has run.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "slowfast_feature_extractor_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) else ``*``.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except (TypeError, ValueError):
            shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    # One BLAS thread per Python worker: Spark already parallelizes
    # across workers, and an OpenBLAS pool per worker oversubscribes the
    # box (measured: blocked-matmul gets SLOWER with more cores without
    # this). Must be in the env before numpy loads in the workers.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    # honor an externally-provided master (spark-submit --master yarn/…):
    # application-code .master() OVERRIDES the submit flag, so setting it
    # unconditionally would silently run the whole corpus single-node on
    # the driver host of a real cluster. Under spark-submit the Python
    # driver runs against a pre-launched JVM gateway that already
    # carries the submit conf — PYSPARK_GATEWAY_PORT is the signal
    # (verified: a bare `python` invocation has neither it nor
    # spark.master). local[cpus] is the bare-python fallback only.
    builder = SparkSession.builder
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # This engine's scans feed expensive per-byte work (HTML parsing
        # UDFs), so favor split granularity over scan-bound defaults:
        # 128MB splits would coalesce a 1GB input to ~8 tasks and cap
        # extraction parallelism regardless of cores.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1 * 1024 * 1024))
        # Same reasoning post-shuffle: AQE's 64MB advisory coalesces a
        # few-hundred-MB shuffle to a handful of partitions, serializing
        # md5/join-heavy stages; 16MB keeps all cores fed.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(16 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_SCRATCH_ROOT: str | None = None


def _scratch(row: str) -> str:
    """Registry row ``row``'s scratch directory, emptied: one directory
    per row under one per-process root, which is created on first use
    and removed at interpreter exit. Emptying on every call means a row
    holds at most one generation of files; a DataFrame returned by an
    earlier build of the same row reads files this call deletes."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="sfe_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, True)
    d = os.path.join(_SCRATCH_ROOT, row)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def _cache_entries(spark: SparkSession) -> dict:
    """The cache manager's entries, keyed by JVM identity.
    ``CacheManager`` has no public listing, so its ``cachedData`` is
    read by reflection."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    seq = field.get(cm)
    ident = spark._jvm.System.identityHashCode
    return {ident(cd): cd for cd in (seq.apply(i) for i in range(seq.length()))}


def footprint(spark: SparkSession) -> dict[str, dict]:
    """What a query can leave behind in ``spark``, by kind: cache
    entries, persisted RDDs (local checkpoints included), catalog tables
    and temp views keyed by ``(name, is_temporary)``, and the entries of
    the scratch root. Each kind maps its keys to a handle."""
    root = _SCRATCH_ROOT
    cat = spark._jsparkSession.sessionState().catalog()
    idents = cat.listTables(cat.getCurrentDatabase())
    tables = (idents.apply(i) for i in range(idents.length()))
    return {
        "cache": _cache_entries(spark),
        "rdds": dict(spark.sparkContext._jsc.getPersistentRDDs()),
        "tables": {(t.table(), cat.isTempView(t)): t for t in tables},
        "scratch": {n: os.path.join(root, n) for n in os.listdir(root)} if root else {},
    }


@contextlib.contextmanager
def query_scope(spark: SparkSession):
    """Release, on exit, what the enclosed code created in ``spark``:
    cache entries, persisted and local-checkpointed RDDs, catalog tables
    and temp views, and scratch directories. Registry rows return lazy
    DataFrames, so the scope must enclose the row's sink, not only its
    build. Nothing that existed on entry is touched, and no job group
    is set (profilers attribute layers by job group). Yields the entry
    :func:`footprint`."""
    before = footprint(spark)
    try:
        yield before
    finally:
        new = {
            kind: {k: v for k, v in got.items() if k not in before[kind]}
            for kind, got in footprint(spark).items()
        }
        jss = spark._jsparkSession
        cm = jss.sharedState().cacheManager()
        for cd in new["cache"].values():
            cm.uncacheQuery(jss, cd.plan(), False, False)
        for rdd in new["rdds"].values():
            rdd.unpersist(False)
        for name, temporary in new["tables"]:
            if temporary:
                spark.catalog.dropTempView(name)
            else:
                spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        for path in new["scratch"].values():
            shutil.rmtree(path, ignore_errors=True)
