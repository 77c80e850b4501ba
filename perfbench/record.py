#!/usr/bin/env python3
"""Record reference digests into perfbench/expected.json.

    python3 perfbench/record.py --seeds 0-31 [--workload NAME ...]

For each workload and seed this generates the input, computes the digest
of the workload's second plan (the month-chunked featurize plan for
crawl_backfill, the exact-Jaccard check for neardup_dedup), requires one
run of the benchmarked plan to match it, and stores it under the
workload's current input size. run.py then checks
every run of a recorded seed against the stored digest.
"""

from __future__ import annotations

import argparse
import json
import sys

import run


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", required=True, help="inclusive range, e.g. 0-31")
    p.add_argument("--workload", action="append")
    args = p.parse_args(argv)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    run.setup_environment()
    import workloads

    expected = run.load_expected()
    # one JVM for every workload: the package's module-level UDFs stay bound
    # to the JVM they were first used in
    bench = run.Bench(None, lo)
    bench.start()
    try:
        for name in args.workload or list(workloads.WORKLOADS):
            wl = bench.wl = workloads.WORKLOADS[name]()
            entry = expected.get(name, {})
            if entry.get("rows") != wl.rows:
                entry = {"rows": wl.rows, "seeds": {}}
            for seed in range(lo, hi + 1):
                path = wl.prepare(bench.spark, run.WORK, seed)
                ref = wl.reference(wl.open(bench.spark, path), path)
                _, got = bench.run_once(wl.open(bench.spark, path), path)
                if got != ref:
                    raise AssertionError(f"{name} seed {seed}: run {got} != reference {ref}")
                entry["seeds"][str(seed)] = [ref.rows, ref.fingerprint]
                expected[name] = entry
                with open(run.EXPECTED, "w") as f:
                    json.dump(expected, f, indent=1, sort_keys=True)
                    f.write("\n")
                run.log(f"{name} seed {seed}: {ref}")
    finally:
        bench.shutdown()
    return 0


if __name__ == "__main__":
    sys.exit(main())
