#!/bin/bash
# Runs every workload once, corpus_scale included, untraced and then
# traced, and prints each run's metric lines.
#   bash perfbench/run_all.sh [seed] [seconds]
set -euo pipefail
cd "$(dirname "$0")/.."
seed="${1:-1}"
seconds="${2:-12}"
for trace in 0 1; do
  for w in telemetry_olap stream_twins corpus_scale; do
    echo "== $w seed $seed trace $trace"
    python3 perfbench/run.py --workload "$w" --seed "$seed" --seconds "$seconds" --trace "$trace" | grep -v '^{'
  done
done
