"""slowfast_feature_extractor_spark — a from-scratch PySpark-native
point-in-time feature-engineering engine.

Reimagines the dual-rate (slow/fast) per-clip feature pipeline of the
reference repo (tamimahm/slowfast_feature_extractor, see SURVEY.md) as a
point-in-time-correct featurizer over web-scale document tables
``(url, warc_ts, html, text, lang)``:

- HTML→text extraction as vectorized Arrow/pandas UDFs
  (``functions.extraction``), byte-identical to the pure-Python oracle;
- SlowFast dual-rate temporal sampling re-expressed as coarse ("slow") +
  fine ("fast") trailing windowed aggregations per entity
  (``operators.windows``), fused via a sort-merge as-of join
  (``operators.asof_join``);
- sessionization by revisit gap (``operators.sessionize``), lag/lead/
  backfill (``operators.windows``), exact resume from a per-partition
  checkpoint ledger (``operators.resume``);
- training-data-pipeline operators: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding-cosine), similarity search (brute-force and
  LSH-bucketed ANN), text analysis (lang-id, quality, tokens,
  fingerprints), multimodal binary-column plumbing.

Everything is declarative DataFrame/SQL so Catalyst handles pushdown,
pruning, and join selection; Python appears only as Arrow-batched pandas
UDFs on genuinely non-relational steps (HTML parsing, fixed-length
resampling).
"""

import sys

__version__ = "0.1.0"


def _keep_zip_directory(self) -> None:
    """``zipimporter.invalidate_caches`` for a Python worker: keep the
    directory read when the importer was made."""


# A reused Python worker runs PySpark's ``setup_spark_files`` before
# every task, and its ``importlib.invalidate_caches()`` makes every
# zipimporter on the path re-read its archive's directory: pyspark.zip
# and the spark-core jar, 0.1-0.2 s per task. Those archives cannot
# change while the worker lives, and an archive added later
# (``--py-files``, ``addPyFile``) is a new path entry whose new importer
# reads its own directory. So once a worker has imported this package,
# its later tasks skip the re-read. Directory finders are still
# invalidated, so ``.py`` files added later still resolve. The driver
# never sets ``_is_running_on_worker``; its zipimport stays as it is.
_files = sys.modules.get("pyspark.core.files")  # loaded by setup_spark_files
if _files is not None and _files.SparkFiles._is_running_on_worker:
    import zipimport

    zipimport.zipimporter.invalidate_caches = _keep_zip_directory
del _files
