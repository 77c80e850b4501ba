"""Python worker set-up: a reused worker re-reads no zip archive after the
task that imported the package, the driver's zipimport is left alone,
archives added later still import, and the package's UDFs follow the
live SparkContext across a stop() and a new session."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pandas as pd
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_python(code: str, timeout: int = 300) -> subprocess.CompletedProcess:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")])))
    return subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env,
                          capture_output=True, text=True, timeout=timeout)


def test_reused_worker_skips_zip_reread(spark):
    """Timed inside the worker, ``importlib.invalidate_caches()`` (what
    PySpark's ``setup_spark_files`` calls before every task) costs about
    nothing once the worker has imported the package, while zip
    importers are on the worker's path."""

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import importlib
        import time
        import zipimport

        warm = "slowfast_feature_extractor_spark" in sys.modules
        import slowfast_feature_extractor_spark  # noqa: F401

        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        took = time.perf_counter() - t0
        return pd.Series([json.dumps([os.getpid(), warm, zips, took])] * len(s))

    rows = [json.loads(r[0]) for _ in range(4)
            for r in spark.range(1, numPartitions=1).select(probe("id")).collect()]
    warm = [r for r in rows if r[1]]
    assert warm, f"no task ran on a worker that had imported the package: {rows}"
    for pid, _, zips, took in warm:
        assert zips > 0, "no zip importer on the worker path: the probe shows nothing"
        assert took < 0.02, f"worker {pid} still re-reads its archives ({took:.3f} s)"


def test_driver_zipimport_untouched():
    """pyspark.core.files is loaded first, so the worker flag (False on
    the driver) is what leaves zipimport alone."""
    r = _run_python(
        "import zipimport\n"
        "import pyspark.core.files\n"
        "before = zipimport.zipimporter.__dict__['invalidate_caches']\n"
        "import slowfast_feature_extractor_spark.plans.featurize\n"
        "assert zipimport.zipimporter.__dict__['invalidate_caches'] is before\n"
        "print('untouched')\n")
    assert r.returncode == 0 and "untouched" in r.stdout, r.stderr[-2000:]


def test_py_files_added_after_first_task_import(spark, tmp_path):
    """A zip and a ``.py`` added with ``addPyFile`` once the workers have
    imported the package (and so skip archive re-reads) still import."""
    from slowfast_feature_extractor_spark.functions.extraction import extract_text_udf

    first = spark.createDataFrame([(b"<p>x</p>",)] * 4, "html binary").repartition(2)
    assert {r[0] for r in first.select(extract_text_udf("html")).collect()} == {"x"}

    tag = os.urandom(4).hex()
    zipped, plain = f"sfe_late_zip_{tag}", f"sfe_late_py_{tag}"
    zpath = tmp_path / f"{zipped}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{zipped}.py", "VALUE = 'from zip'\n")
    ppath = tmp_path / f"{plain}.py"
    ppath.write_text("VALUE = 'from py'\n")
    spark.sparkContext.addPyFile(str(zpath))
    spark.sparkContext.addPyFile(str(ppath))

    @F.pandas_udf("string")
    def late(s: pd.Series) -> pd.Series:
        import importlib

        warm = "slowfast_feature_extractor_spark" in sys.modules
        got = ",".join(importlib.import_module(m).VALUE for m in (zipped, plain))
        return pd.Series([f"{warm}|{got}"] * len(s))

    rows = [r[0] for r in spark.range(8, numPartitions=4).select(late("id")).collect()]
    assert all(r.endswith("|from zip,from py") for r in rows), rows
    assert any(r.startswith("True|") for r in rows), f"no reused worker ran: {rows}"


def test_udfs_follow_the_live_context():
    """Built in a second session after ``stop()``, the extraction and
    resample UDFs report to that session's accumulator server, not to
    the first one's closed socket."""
    r = _run_python(
        "from slowfast_feature_extractor_spark.functions.extraction import extract_text_udf\n"
        "from slowfast_feature_extractor_spark.functions.vector import resample_udf\n"
        "from slowfast_feature_extractor_spark.session import get_spark\n"
        "def run():\n"
        "    spark = get_spark(app_name='ctx', cpus=2)\n"
        "    df = spark.createDataFrame([(b'<p>a &amp; b</p>', [1.0, 3.0])] * 8,\n"
        "                               'html binary, v array<double>').repartition(4)\n"
        "    out = sorted(tuple(r) for r in df.select(\n"
        "        extract_text_udf('html'), resample_udf(3)('v')).collect())\n"
        "    spark.stop()\n"
        "    return out\n"
        "first, second = run(), run()\n"
        "assert first == second == [('a & b', [1.0, 2.0, 3.0])] * 8, (first, second)\n"
        "print('same')\n")
    assert r.returncode == 0 and "same" in r.stdout, r.stderr[-2000:]
    assert "Failed to update accumulator" not in r.stderr, r.stderr[-2000:]
