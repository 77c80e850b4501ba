#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one closed-loop client.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_backfill --seed 1 --seconds 12 --trace 0

The input is generated from the seed (seed mod INPUT_VARIANTS) and cached
under .perfbench_work/. Set-up (open the input, one warm-up run; the first
also starts the session) is done three times and setup_s is the median,
then the workload runs back to back on local[4] for about --seconds, each run starting only
after the previous one has finished and been checked.
With --trace 1 a further run with Spark's event log on times each layer.

Progress and a readable summary go to stderr; the last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

import eventlog

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
TMP = os.path.join(WORK, "tmp")
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
PACKAGE = "slowfast_feature_extractor_spark"
CPUS = 4
DRIVER_MEMORY = "3g"
SETUPS = 3
WARMUP_S = 8.0
MIN_RUNS = 3
# --seed picks one of this many inputs (seed mod INPUT_VARIANTS). Each is
# recorded in expected.json with a digest cross-checked against a second
# plan, so no timed invocation pays for that plan.
INPUT_VARIANTS = 32

END_TO_END_UNITS = {
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "setup_s": "s",
}
PER_LAYER_UNITS = {
    # demoted from end to end: it spread 0.17 (quartiles over median) across
    # seeds, as the JVM heap grows by GC policy, not by the workload alone
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.auto_chunk_decision_s": "s",
    "sources.scan_bytes": "bytes",
    "sources.scan_ms": "ms",
    "extraction.python_ms": "ms",
    "extraction.bytes_to_python": "bytes",
    "extraction.udf_rows_per_input_row": "ratio",
    "vector.python_ms": "ms",
    "vector.bytes_to_python": "bytes",
    "windows.self_s": "s",
    "windows.exchanges": "count",
    "sessionize.self_s": "s",
    "asof_join.self_s": "s",
    "skew.carry_rows": "count",
    "skew.task_skew": "ratio",
    "skew.self_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.precision": "ratio",
    "dedup.self_s": "s",
    "resume.write_s": "s",
    "resume.bytes_written": "bytes",
    "resume.files_written": "count",
    "audit.s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    # fetch wait is always 0 under local[N]: every shuffle block is local
    "spark.shuffle_write_ms": "ms",
    "spark.spill_disk_bytes": "bytes",
    "spark.peak_execution_memory_bytes": "bytes",
    "spark.cached_rdds_after_run": "count",
    "trace.overhead_ratio": "ratio",
    "host.cpu_calib": "Miter/s",
}


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def cpu_calibration(seconds: float = 0.3) -> float:
    """Pure-Python loop rate (million iterations/s): a throttled host
    window shows as a low reading beside the runs it slowed."""
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        n += 1
    return n / seconds / 1e6


class RssMonitor:
    """Polls the resident memory of a process tree (the Spark JVM and the
    Python workers it forks) and keeps the peak of the summed RSS."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid, self.interval = root_pid, interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def __enter__(self) -> "RssMonitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _poll(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, self.sample_kb())
            if self._stop.wait(self.interval):
                return

    def sample_kb(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/status") as f:
                    total += next((int(line.split()[1]) for line in f
                                   if line.startswith("VmRSS:")), 0)
            except OSError:
                pass
        return total


def load_expected() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def setup_environment() -> None:
    """Keep Spark's scratch and the JVMs' and Python's temp files in the
    checkout, pin the driver heap (get_spark defaults it to 48g) and make
    the package importable by the driver and its Python workers."""
    os.makedirs(TMP, exist_ok=True)
    os.environ.update(
        TMPDIR=TMP,
        # HotSpot keeps its perf-data file in /tmp whatever java.io.tmpdir says
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"perfbench: no {PACKAGE}/ package under {ROOT}")
        return 2
    setup_environment()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    variant = args.seed % INPUT_VARIANTS
    log(f"perfbench {args.workload}: --seed {args.seed} selects input variant {variant}")
    bench = Bench(workloads.WORKLOADS[args.workload](), variant)
    try:
        result = bench.measure(args.seconds, bool(args.trace))
    finally:
        bench.shutdown()
    print(json.dumps(result), flush=True)
    return 0


class Bench:
    """One workload and seed on one Spark session at a time."""

    def __init__(self, wl, seed: int):
        self.wl, self.seed = wl, seed
        self.conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        }
        self.run_dir = os.path.join(WORK, "run")
        self.spark = None

    def start(self, extra: dict | None = None) -> float:
        from slowfast_feature_extractor_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=CPUS,
                               extra_conf={**self.conf, **(extra or {})})
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop the session, then the JVM it was launched in."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        shutil.rmtree(self.run_dir, ignore_errors=True)

    def run_once(self, inp, path) -> tuple[float, object]:
        """One timed run after clearing every cache; returns (wall, digest)."""
        from slowfast_feature_extractor_spark.plans.featurize import clear_chunk_decision_cache

        self.spark.catalog.clearCache()
        clear_chunk_decision_cache()
        shutil.rmtree(self.run_dir, ignore_errors=True)
        t0 = time.perf_counter()
        check = self.wl.run(inp, path, self.run_dir)
        wall = time.perf_counter() - t0
        return wall, check()

    def warm_up(self, inp, path, ref) -> float:
        """One untimed run whose output must still match ``ref``."""
        wall, got = self.run_once(inp, path)
        if got != ref:
            raise AssertionError(f"warm-up digest {got} != reference {ref}")
        return wall

    def recorded(self):
        """Digest recorded in expected.json for this workload, seed and size."""
        from workloads import Digest

        rec = load_expected().get(self.wl.name, {})
        if rec.get("rows") != self.wl.rows or str(self.seed) not in rec.get("seeds", {}):
            return None
        return Digest(*rec["seeds"][str(self.seed)])

    def measure(self, seconds: float, trace: bool) -> dict:
        wl = self.wl
        calib = [cpu_calibration()]
        first_start_s = self.start()  # also launches the JVM
        # input generation and the reference digest are the benchmark's own
        # cost, in no metric. A seed recorded in expected.json was
        # cross-checked against the second plan when it was recorded; any
        # other seed is cross-checked now (and kept beside its input).
        t0 = time.perf_counter()
        path = wl.prepare(self.spark, WORK, self.seed)
        t1 = time.perf_counter()
        ref, source = self.recorded(), "recorded"
        if ref is None:
            ref, source = wl.reference_cached(self.spark, path), "second plan"
        log(f"perfbench {wl.name} seed={self.seed}: JVM and session {first_start_s:.1f} s, "
            f"input {t1 - t0:.1f} s, reference {time.perf_counter() - t1:.1f} s, {source} {ref}")

        # set-up = open the input + one untimed warm-up run, three times on
        # the one session; the first also pays the session start. A traced
        # run reports no setup_s, so it sets up once.
        setups = []
        for i in range(1 if trace else SETUPS):
            t0 = time.perf_counter()
            inp = wl.open(self.spark, path)
            self.warm_up(inp, path, ref)
            setups.append(time.perf_counter() - t0 + (first_start_s if i == 0 else 0.0))
        # the JIT keeps speeding up a short plan for several runs after the
        # cold one (crawl_backfill: ~20% over its first three), so untimed runs
        # go on until the warm ones, set-ups included, have taken WARMUP_S
        warm_s = sum(setups[1:])
        while warm_s < WARMUP_S:
            warm_s += self.warm_up(inp, path, ref)
        log(f"perfbench set-ups {' '.join(f'{t:.3f}' for t in setups)} s, "
            f"warm-up {warm_s:.1f} s")

        walls, attempted, failed = [], 0, 0
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        deadline = time.perf_counter() + seconds
        with RssMonitor(jvm_pid) as rss:
            # start another run only while it should end before the deadline
            while attempted < MIN_RUNS or (
                    time.perf_counter() + statistics.median(walls or [0.0]) < deadline):
                attempted += 1
                try:
                    wall, got = self.run_once(inp, path)
                except Exception:  # a failed run is counted, not fatal
                    failed += 1
                    log(traceback.format_exc())
                    continue
                if got != ref:
                    failed += 1
                    log(f"run {attempted}: digest {got} != reference {ref}")
                    continue
                walls.append(wall)
        calib.append(cpu_calibration())

        # 0 only when every run failed, which also makes correct false
        wall_s = statistics.median(walls) if walls else 0.0
        e2e = {
            "wall_s": wall_s,
            "rows_per_s": wl.rows / wall_s if walls else 0.0,
            "setup_s": statistics.median(setups),
        }
        peak_rss_mb = rss.peak_kb / 1024
        log(f"perfbench {wl.name} seed={self.seed} rows={wl.rows} runs={attempted}: "
            + "  ".join(f"{k}={v:.4g} {END_TO_END_UNITS[k]}" for k, v in e2e.items())
            + f"  peak_rss_mb={peak_rss_mb:.4g} MB  failed_ratio={failed / attempted:.3g} ratio"
            + f"  (cpu calib {calib[0]:.1f}/{calib[1]:.1f} Miter/s,"
            + f" walls {' '.join(f'{w:.3f}' for w in walls)})")
        if trace:
            layers = self.traced_run(path, ref, wall_s)
            layers["session.start_s"] = first_start_s
            layers["peak_rss_mb"] = peak_rss_mb
            layers["host.cpu_calib"] = statistics.median(calib)
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}

    def traced_run(self, path: str, ref, wall_s: float) -> dict:
        """Staged prefixes under an event-logged session, one job group per
        stage; returns the per-layer metrics."""
        wl = self.wl
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        self.start({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        sc = self.spark.sparkContext
        inp = wl.open(self.spark, path)
        # warm the new session's Python workers, as set-up does, so the first
        # stage does not pay their start
        sc.setJobGroup("warm-up", "warm-up")
        self.warm_up(inp, path, ref)
        self.spark.catalog.clearCache()
        shutil.rmtree(self.run_dir, ignore_errors=True)
        walls, counts = {}, {}
        for stage, thunk in wl.stages(inp, path, self.run_dir):
            sc.setJobGroup(stage, stage)
            t0 = time.perf_counter()
            out = thunk()
            walls[stage] = time.perf_counter() - t0
            if isinstance(out, dict):
                counts.update(out)
            if stage == wl.full_stages[-1]:
                cached = sc._jsc.getPersistentRDDs().size()
        self.spark.stop()  # closes the event log
        self.spark = None
        (name,) = os.listdir(log_dir)
        groups = eventlog.parse(os.path.join(log_dir, name))
        full = eventlog.Group()
        for stage in wl.full_stages:
            full = full.merge(groups.get(stage, eventlog.Group()))
        full_wall = sum(walls[s] for s in wl.full_stages)
        return layer_metrics(wl, walls, counts, groups, full, full_wall, self.run_dir) | {
            "spark.cached_rdds_after_run": cached,
            "trace.overhead_ratio": full_wall / wall_s if wall_s else 0.0,
        }


def layer_metrics(wl, walls, counts, groups, full, full_wall, run_dir) -> dict:
    """Per-layer metrics from stage walls (self time = a stage's wall minus
    the prefix it extends), stage counts and event-log counters. A layer
    the workload does not run reads 0."""
    w = walls.get
    build = groups.get("build", eventlog.Group())
    extract = ("ArrowEvalPython", "extract_text_udf(")
    resample = ("ArrowEvalPython", "_resample(")
    out_files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(run_dir, "out"))
                 for f in fs if f.endswith(".parquet")]
    verified, candidates = counts.get("verified_pairs", 0), counts.get("candidate_pairs", 0)
    return {
        "plans.build_s": w("build"),
        "plans.build_jobs": build.jobs,
        "plans.auto_chunk_decision_s": w("auto_chunk_decision", 0.0),
        "sources.scan_bytes": full.sql_sum("Scan parquet ", "", "size of files read"),
        "sources.scan_ms": full.sql_sum("Scan parquet ", "", "scan time"),
        "extraction.python_ms": full.sql_sum(*extract, "time to run Python workers"),
        "extraction.bytes_to_python": full.sql_sum(*extract, "data sent to Python workers"),
        "extraction.udf_rows_per_input_row":
            full.sql_sum(*extract, "number of output rows") / wl.rows,
        "vector.python_ms": full.sql_sum(*resample, "time to run Python workers"),
        "vector.bytes_to_python": full.sql_sum(*resample, "data sent to Python workers"),
        "windows.self_s": w("windows") - w("extraction") if "windows" in walls else 0.0,
        "windows.exchanges": groups.get("windows", eventlog.Group()).exchanges,
        "sessionize.self_s": w("sessionize") - w("scan") if "sessionize" in walls else 0.0,
        "asof_join.self_s": w("asof_join") - w("featurize") if "asof_join" in walls else 0.0,
        "skew.carry_rows": counts.get("carry_rows", 0),
        "skew.task_skew": full.task_skew(),
        "skew.self_s": w("featurize_chunked") - w("featurize")
        if "featurize_chunked" in walls else 0.0,
        "dedup.candidate_pairs": candidates,
        "dedup.verified_pairs": verified,
        "dedup.precision": verified / candidates if candidates else 0.0,
        "dedup.self_s": full_wall - w("scan") if candidates else 0.0,
        "resume.write_s": w("write", 0.0) - w("featurize", 0.0) if "write" in walls else 0.0,
        "resume.bytes_written": sum(os.path.getsize(f) for f in out_files),
        "resume.files_written": len(out_files),
        "audit.s": w("audit", 0.0),
        "spark.jobs": full.jobs,
        "spark.tasks": full.tasks,
        "spark.executor_run_ms": full.executor_run_ms,
        "spark.executor_cpu_ms": full.executor_cpu_ms,
        "spark.gc_ms": full.gc_ms,
        "spark.shuffle_write_bytes": full.shuffle_write_bytes,
        "spark.shuffle_write_ms": full.shuffle_write_ms,
        "spark.spill_disk_bytes": full.spill_disk_bytes,
        "spark.peak_execution_memory_bytes": full.peak_execution_memory_bytes,
    }


if __name__ == "__main__":
    sys.exit(main())
