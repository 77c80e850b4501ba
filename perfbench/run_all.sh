#!/usr/bin/env bash
# Print every end-to-end metric, with its unit, for every workload.
#   bash perfbench/run_all.sh [seed] [seconds]     (from the repository root)
set -euo pipefail
seed=${1:-1}
seconds=${2:-12}
for w in crawl_backfill neardup_dedup; do
  python3 perfbench/run.py --workload "$w" --seed "$seed" --seconds "$seconds" --trace 0 \
    2>&1 >/dev/null | grep "^perfbench $w seed=[0-9]* rows="
done
