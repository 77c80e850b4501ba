#!/usr/bin/env python
"""Targeted per-query benchmark + plan capture (guide §1.4/§1.5).

NOT the driver contract — bench.py stays frozen. This harness times a
named subset of registry queries with the same methodology (noop sink,
best-of-N cache-cleared reps) so an optimization round can isolate one
query without paying the whole suite, and optionally dumps
``.explain("formatted")`` to plans/<tag>/<query>_<suffix>.txt.

Usage:
  python bench_extra.py [--sf DIR] [--reps N] [--plans TAG SUFFIX] q1 q2 ...
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from slowfast_feature_extractor_spark.plans.queries import REGISTRY  # noqa: E402
from slowfast_feature_extractor_spark.session import get_spark, query_scope  # noqa: E402


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = 3
    plans_tag = plans_suffix = None
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif args[i] == "--plans":
            plans_tag, plans_suffix = args[i + 1], args[i + 2]
            i += 3
        else:
            names.append(args[i])
            i += 1

    spark = get_spark(app_name=f"bench-extra-{cpus}", cpus=cpus)
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    timings: dict[str, float] = {}
    for name in names:
        fn = REGISTRY[name][0]
        if plans_tag is not None:
            d = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "plans", plans_tag)
            os.makedirs(d, exist_ok=True)
            with query_scope(spark):
                plan = fn(spark, sf_dir)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"))
            with open(os.path.join(d, f"{name}_{plans_suffix}.txt"), "w") as f:
                f.write(plan)
        best = float("inf")
        for r in range(max(reps, 4)):
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            with query_scope(spark):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
            improved = dt < best * 0.9
            best = min(best, dt)
            log(f"  {name} rep{r}: {dt:.3f}s")
            if r + 1 >= reps and not improved:
                break
        timings[name] = round(best, 3)
        log(f"{name}: {timings[name]:.3f}s")
    spark.stop()
    print(json.dumps({"sf": sf_dir, "cpus": cpus, "queries": timings,
                      "value": round(sum(timings.values()), 3)}))


if __name__ == "__main__":
    main()
