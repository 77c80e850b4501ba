"""The benchmark's two workloads: seeded inputs, the timed call into the
package, the reference digest each run is checked against, and the
staged prefixes the traced run times layer by layer.

Inputs are generated in Spark from ``spark.range`` with the workload seed
mixed into every hash, so the same seed and size give the same table.
The package only ever sees the generated parquet.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.config import FeaturizerConfig
from slowfast_feature_extractor_spark.functions.extraction import extract_text_udf
from slowfast_feature_extractor_spark.operators.asof_join import asof_join
from slowfast_feature_extractor_spark.operators.audit import assert_no_leakage
from slowfast_feature_extractor_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_lsh_dedup,
    minhash_signatures,
)
from slowfast_feature_extractor_spark.operators.resume import run_with_checkpoint
from slowfast_feature_extractor_spark.operators.sessionize import sessionize
from slowfast_feature_extractor_spark.operators.skew import chunk_carries
from slowfast_feature_extractor_spark.operators.windows import windowed_vector
from slowfast_feature_extractor_spark.plans import backfill_job
from slowfast_feature_extractor_spark.plans.featurize import (
    auto_chunk_decision,
    featurize_pages,
    salted_buckets,
)

EPOCH_2024 = 1704067200
GEN_PARTITIONS = 8
FEATURE_COLS = ["url", "warc_ts", "slow_vec", "fast_vec", "fused_vec",
                "n_hist_rows", "max_input_ts"]
_WORDS = (
    "web crawl page snapshot feature window session entity timestamp "
    "extract token vector slow fast fused history revisit content"
).split()


@dataclass(frozen=True)
class Digest:
    """Order-independent summary of an output: its row count and the sum
    of xxhash64 over every column."""

    rows: int
    fingerprint: int


def digest(df: DataFrame) -> Digest:
    # decimal(38,0): a long sum of 64-bit hashes overflows under ANSI mode
    rows, fp = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    ).first()
    return Digest(int(rows), int(fp or 0))


def noop(df: DataFrame) -> None:
    """Materialize every column of ``df`` without collecting or writing."""
    df.write.format("noop").mode("overwrite").save()


def _word(h) -> F.Column:
    """Word picked by an integer expression; the numeric suffix widens the
    vocabulary to ~18k so unrelated documents share almost no shingles."""
    words = F.array(*[F.lit(w) for w in _WORDS])
    base = F.element_at(words, (F.pmod(h, F.lit(len(_WORDS))) + 1).cast("int"))
    return F.concat(base, F.pmod(F.xxhash64(h), F.lit(997)).cast("string"))


def _words(h, n: int) -> F.Column:
    return F.concat_ws(" ", *[_word(h + i) for i in range(n)])


def _ts(seconds) -> F.Column:
    return F.timestamp_seconds(F.lit(EPOCH_2024) + seconds)


def _url(idx, seed: int) -> F.Column:
    return F.concat(
        F.lit("https://host"), F.pmod(F.xxhash64(idx, F.lit(seed)), F.lit(1024)).cast("string"),
        F.lit(".example/p"), idx.cast("string"),
    )


with open(__file__, "rb") as _f:
    _SOURCE_KEY = hashlib.sha1(_f.read()).hexdigest()[:10]


class Workload:
    """One benchmark workload. Subclasses set ``name``, ``rows`` (input
    rows: pages, events or docs) and ``full_stages`` (the traced stages
    that together make up one full run) and implement the hooks below."""

    name: str
    rows: int
    full_stages: tuple[str, ...]

    def input_path(self, work: str, seed: int) -> str:
        # keyed on this file's source too, so an edited generator never
        # reads an input cached by the previous one
        return os.path.join(work, "inputs",
                            f"{self.name}-seed{seed}-rows{self.rows}-{_SOURCE_KEY}")

    def prepare(self, spark: SparkSession, work: str, seed: int) -> str:
        """Generate the input once per (workload, seed, size); later runs
        reuse the parquet under ``work``."""
        path = self.input_path(work, seed)
        if not os.path.exists(os.path.join(path, "_DONE")):
            shutil.rmtree(path, ignore_errors=True)
            self.generate(spark, seed, path)
            open(os.path.join(path, "_DONE"), "w").close()
        return path

    def reference_cached(self, spark: SparkSession, path: str) -> Digest:
        """:meth:`reference` of the input at ``path``, computed once and kept
        beside it."""
        saved = os.path.join(path, "_REFERENCE")
        if os.path.exists(saved):
            with open(saved) as f:
                return Digest(*json.load(f))
        ref = self.reference(self.open(spark, path), path)
        with open(saved, "w") as f:
            json.dump([ref.rows, ref.fingerprint], f)
        return ref

    def generate(self, spark: SparkSession, seed: int, path: str) -> None:
        raise NotImplementedError

    def open(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.parquet(path)

    def run(self, inp: DataFrame, path: str, run_dir: str) -> Callable[[], Digest]:
        """One timed run: the public call through to its completed sink.
        Returns the untimed step that digests the run's output."""
        raise NotImplementedError

    def reference(self, inp: DataFrame, path: str) -> Digest:
        """Digest of the same output from a second plan the engine documents
        as value-exact (or, for dedup, checked against the exact scorer).
        May leave data cached; the runner clears the cache before each run."""
        raise NotImplementedError

    def stages(self, inp: DataFrame, path: str, run_dir: str):
        """Staged prefixes for the traced run: yields (stage, thunk) pairs.
        Each thunk does all of its stage's Spark work (so its jobs carry the
        stage's job group) and may return a dict of counts."""
        raise NotImplementedError


# ---------------------------------------------------------------- pages


def _extracted(pages: DataFrame) -> DataFrame:
    """featurize_pages' stage 1 (extraction UDF, measure) as its own prefix."""
    return pages.withColumn(
        "text", F.coalesce(F.col("text"), extract_text_udf(F.col("html")))
    ).select("url", "warc_ts", F.length("text").cast("double").alias("measure"))


def _plain_windows(measured: DataFrame) -> DataFrame:
    """The plain window pass over the measure, through operators.windows."""
    fast = windowed_vector(measured, "url", "warc_ts", "measure", rows=32, out_col="__fast")
    return windowed_vector(fast, "url", "warc_ts", "measure", rows=64, out_col="__slow")


class CrawlBackfill(Workload):
    """Uniform crawl: every url revisited the same number of times, html
    set, through the shipped backfill job (featurize, bucket, checkpointed
    write, leakage audit)."""

    name = "crawl_backfill"
    full_stages = ("build", "write", "audit")
    AUTO_CHUNK_THRESHOLD = 50_000  # featurize_pages' default, as the job uses it

    def __init__(self, n_urls: int = 600, revisits: int = 20, buckets: int = 8):
        self.n_urls, self.revisits, self.buckets = n_urls, revisits, buckets
        self.rows = n_urls * revisits

    def generate(self, spark, seed, path):
        df = spark.range(0, self.rows, 1, GEN_PARTITIONS)
        url_idx = F.col("id") % self.n_urls
        visit = (F.col("id") / self.n_urls).cast("long")
        h = F.xxhash64("id", F.lit(seed))
        para = _words(h, 8)
        html = F.encode(F.concat(
            F.lit("<html><head><title>p"), F.pmod(h, F.lit(997)).cast("string"),
            F.lit("</title><style>p{x:1}</style><script>var x=1;</script></head>"
                  "<body><!-- c --><p>"),
            para, F.lit(" &amp; "),
            F.repeat(F.concat(para, F.lit(" ")), (F.pmod(h, F.lit(4)) + 1).cast("int")),
            F.lit("&lt;end&gt;</p></body></html>"),
        ), "utf-8")
        df.select(
            _url(url_idx, seed).alias("url"),
            # jitter (< 1 day) below the visit spacing keeps warc_ts unique per url
            _ts(visit * 100_000 + F.pmod(h, F.lit(86_400))).alias("warc_ts"),
            html.alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit("en").alias("lang"),
        ).write.parquet(path)

    def run(self, inp, path, run_dir):
        # fresh output and ledger: a reused ledger would skip every bucket
        out, ledger = os.path.join(run_dir, "out"), os.path.join(run_dir, "ledger")
        m = backfill_job.run(FeaturizerConfig(
            input_path=path, output_path=out, ledger_path=ledger, buckets=self.buckets,
        ), spark=inp.sparkSession)

        def check() -> Digest:
            got = digest(inp.sparkSession.read.parquet(out).select(*FEATURE_COLS))
            if not m["rows_written"] == m["rows_audited"] == got.rows:
                raise AssertionError(f"backfill row counts disagree: {m}, read back {got.rows}")
            return got

        return check

    def reference(self, inp, path):
        if auto_chunk_decision(inp, "url", self.AUTO_CHUNK_THRESHOLD) is not None:
            raise AssertionError("crawl_backfill must take the plain plan")
        # month chunks: every url's 20 visits span at most two of them, so
        # the chunk-carry plan stays cheap and is still a different plan
        ref = featurize_pages(inp, chunk_trunc="month").cache()
        assert_no_leakage(ref)
        return digest(ref)

    def stages(self, inp, path, run_dir):
        yield "scan", lambda: noop(inp)
        yield "extraction", lambda: noop(_extracted(inp))
        yield "windows", lambda: noop(_plain_windows(_extracted(inp)))
        yield "auto_chunk_decision", lambda: auto_chunk_decision(
            inp, "url", self.AUTO_CHUNK_THRESHOLD)
        out, ledger = os.path.join(run_dir, "out"), os.path.join(run_dir, "ledger")
        built = {}
        yield "featurize", lambda: noop(featurize_pages(inp))
        # sessionize and the general as-of join have no workload of their
        # own; they are timed on the page visits they default to: sessions
        # of revisits per url, and each visit joined to the features as of
        # its previous visit
        visits = inp.select("url", "warc_ts")
        yield "sessionize", lambda: noop(sessionize(visits))
        yield "asof_join", lambda: noop(asof_join(
            visits, featurize_pages(inp), on="warc_ts", by=("url",),
            right_cols=["fused_vec"], allow_exact_matches=False))
        yield "build", lambda: built.update(
            df=salted_buckets(featurize_pages(inp), "url", self.buckets))
        yield "write", lambda: run_with_checkpoint(
            built["df"], out, ledger, n_buckets=self.buckets)
        yield "audit", lambda: assert_no_leakage(
            inp.sparkSession.read.parquet(f"{out}/bucket=*"), ts="warc_ts")
        # the chooser keeps this input on the plain plan, so the chunk-carry
        # layer (operators.skew) is timed by forcing it with week chunks (a
        # url's 20 visits span 3-4 of them): its carries, then the whole
        # forced plan. Last, as the chunked plan persists its input.
        base = _extracted(inp).withColumn("__chunk", F.date_trunc("week", "warc_ts"))
        yield "skew_carries", lambda: {
            "carry_rows": chunk_carries(base, "url", ["warc_ts"], 64).count()}
        yield "featurize_chunked", lambda: noop(featurize_pages(inp, chunk_trunc="week"))


# ---------------------------------------------------------------- docs


class NeardupDedup(Workload):
    """Random documents plus a planted share of near-copies (one word
    replaced), through MinHash-LSH dedup at threshold 0.8."""

    name = "neardup_dedup"
    full_stages = ("build", "full")
    LSH = dict(threshold=0.8, num_hashes=16, bands=4)
    MIN_RECALL = 0.85

    def __init__(self, n_docs: int = 2_500, copy_share: float = 0.1):
        self.rows = n_docs
        self.n_copies = int(n_docs * copy_share)

    def generate(self, spark, seed, path):
        n_base = self.rows - self.n_copies
        df = spark.range(0, self.rows, 1, GEN_PARTITIONS)
        is_copy = F.col("id") >= n_base
        src = F.when(is_copy, F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(n_base))
                     ).otherwise(F.col("id"))
        # 40-49 words: one replaced word changes at most 3 of >= 38 shingles,
        # so a planted pair's Jaccard is >= 35/41 > 0.8
        n_words = (F.pmod(F.xxhash64(src, F.lit(seed), F.lit("len")), F.lit(10)) + 40
                   ).cast("int")
        swap = F.pmod(F.xxhash64("id", F.lit(seed), F.lit("pos")), n_words)
        words = F.transform(
            F.sequence(F.lit(0), n_words - 1),
            lambda i: F.when(is_copy & (i == swap),
                             _word(F.xxhash64("id", F.lit(seed), F.lit("new"))))
            .otherwise(_word(F.xxhash64(src, i, F.lit(seed)))),
        )
        df.select(
            F.col("id").alias("doc_id"),
            F.array_join(words, " ").alias("text"),
            F.when(is_copy, src).alias("copy_of"),
        ).write.parquet(path)

    def run(self, inp, path, run_dir):
        got = digest(minhash_lsh_dedup(inp.select("doc_id", "text"), **self.LSH))
        return lambda: got

    def reference(self, inp, path):
        docs = inp.select("doc_id", "text")
        lsh = minhash_lsh_dedup(docs, **self.LSH).cache()
        exact = jaccard_pairs(docs, threshold=self.LSH["threshold"]).cache()
        n_exact = exact.count()
        stray = lsh.join(exact, ["id_a", "id_b", "jaccard"], "left_anti").count()
        planted = inp.filter(F.col("copy_of").isNotNull()).select(
            F.least("doc_id", "copy_of").alias("id_a"),
            F.greatest("doc_id", "copy_of").alias("id_b"))
        found = planted.join(lsh, ["id_a", "id_b"], "left_semi").count()
        got = digest(lsh)
        if stray or got.rows < self.MIN_RECALL * n_exact \
                or found < self.MIN_RECALL * self.n_copies:
            raise AssertionError(
                f"dedup output off the exact scorer: {got.rows} pairs, {stray} not "
                f"in the {n_exact} exact pairs, {found}/{self.n_copies} planted found")
        return got

    def stages(self, inp, path, run_dir):
        docs = inp.select("doc_id", "text")
        k, bands = self.LSH["num_hashes"], self.LSH["bands"]
        built = {}
        yield "scan", lambda: noop(docs)
        yield "build", lambda: built.update(df=minhash_lsh_dedup(docs, **self.LSH))
        yield "full", lambda: {"verified_pairs": digest(built["df"]).rows}
        yield "candidates", lambda: {"candidate_pairs": minhash_lsh_candidates(
            minhash_signatures(docs, num_hashes=k), k, bands).count()}


WORKLOADS = {w.name: w for w in (CrawlBackfill, NeardupDedup)}
