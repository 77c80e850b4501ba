"""Self-tests of the benchmark: the event-log parser on a small recorded
log, the runner's metric tables against BENCHMARK.json, and one tiny run
of every workload (reference digest, timed run, traced stages).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest

import eventlog
import run

run.setup_environment()

import workloads  # noqa: E402  (needs the package path set up above)

HERE = os.path.dirname(os.path.abspath(__file__))

TINY = {
    "crawl_backfill": lambda: workloads.CrawlBackfill(n_urls=30, revisits=10, buckets=2),
    "neardup_dedup": lambda: workloads.NeardupDedup(n_docs=200),
}


def test_eventlog_groups_and_sql_metrics():
    groups = eventlog.parse(os.path.join(HERE, "testdata", "eventlog_small.jsonl"))
    assert set(groups) == {"udf", "plain"}
    udf, plain = groups["udf"], groups["plain"]
    assert (udf.jobs, udf.tasks, plain.jobs, plain.tasks) == (1, 4, 1, 2)
    # 1000 rows through the pandas UDF, one shuffle for the groupBy
    assert udf.sql_sum("ArrowEvalPython", "plus_one(", "number of output rows") == 1000
    assert udf.sql_sum("ArrowEvalPython", "plus_one(", "time to run Python workers") > 0
    assert udf.exchanges == 1 and udf.shuffle_write_bytes > 0
    assert udf.task_skew() >= 1.0
    assert plain.exchanges == 0 and plain.task_skew() == 0.0
    merged = udf.merge(plain)
    assert (merged.jobs, merged.tasks) == (2, 6)
    assert merged.sql == udf.sql + plain.sql


def test_benchmark_json_matches_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS


@pytest.fixture(scope="module")
def bench():
    b = run.Bench(None, 0)
    b.start()
    yield b
    b.shutdown()


@pytest.fixture
def work(request):
    """A fresh directory under the benchmark's work area, so the tests, like
    the runner, write only inside the checkout."""
    # no [ ] in the name: Spark reads them as a path glob
    path = os.path.join(run.WORK, "selftest", re.sub(r"\W", "_", request.node.name))
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


@pytest.mark.parametrize("name", list(TINY))
def test_tiny_workload(bench, work, name):
    wl = TINY[name]()
    bench.wl, bench.run_dir = wl, os.path.join(work, "run")
    path = wl.prepare(bench.spark, work, seed=7)
    ref = wl.reference(wl.open(bench.spark, path), path)
    assert ref.rows > 0
    _, got = bench.run_once(wl.open(bench.spark, path), path)
    assert got == ref
    # same seed, same input
    again = wl.prepare(bench.spark, os.path.join(work, "again"), seed=7)
    assert workloads.digest(bench.spark.read.parquet(again)) == \
        workloads.digest(bench.spark.read.parquet(path))

    walls, counts = {}, {}
    for stage, thunk in wl.stages(wl.open(bench.spark, path), path, bench.run_dir):
        walls[stage] = 1.0
        out = thunk()
        counts.update(out if isinstance(out, dict) else {})
    assert set(wl.full_stages) <= set(walls)
    g = eventlog.Group()
    layers = run.layer_metrics(wl, walls, counts, {}, g, sum(walls[s] for s in wl.full_stages),
                               bench.run_dir)
    # the rest are filled in by Bench.measure and Bench.traced_run
    assert set(layers) | {"peak_rss_mb", "session.start_s", "host.cpu_calib",
                          "spark.cached_rdds_after_run", "trace.overhead_ratio"} \
        == set(run.PER_LAYER_UNITS)
    if name == "neardup_dedup":
        assert 0 < layers["dedup.verified_pairs"] <= layers["dedup.candidate_pairs"]
    if name == "crawl_backfill":
        assert layers["resume.files_written"] > 0 and layers["skew.carry_rows"] > 0
        assert {"sessionize", "asof_join"} <= set(walls)
