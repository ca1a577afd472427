#!/usr/bin/env bash
# One-command verification gate: unit/plan/property tests, the
# benchmark's own tests, the full virgin-session DuckDB oracle sweep,
# a bench.py --only smoke, then the headline bench.
# Usage: scripts/ci.sh [--fast]   (--fast skips the bench)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest (the Tier-1 command in ROADMAP.md, env scoped to it) =="
(
    export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local
    timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
)

echo "== benchmark smoke tests (each workload end to end, small input) =="
python -m pytest perfbench/tests -q -p no:cacheprovider

echo "== oracle sweep (virgin session, sf0.01) =="
python scripts/driver_sim.py

echo "== bench --only smoke (must leave BENCH_DETAIL.json as it is) =="
detail_sum="$(cksum BENCH_DETAIL.json)"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python bench.py --only fraud_alerts,streaming_windowed_agg --runs 1
if [[ "$(cksum BENCH_DETAIL.json)" != "$detail_sum" ]]; then
    echo "bench.py --only rewrote BENCH_DETAIL.json" >&2
    exit 1
fi

if [[ "${1:-}" != "--fast" ]]; then
    echo "== bench (sf0.1) =="
    python bench.py
fi
echo "CI GREEN"
