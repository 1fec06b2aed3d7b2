#!/usr/bin/env bash
# One-command verification: tests -> DuckDB oracle parity -> bench.
set -euo pipefail
cd "$(dirname "$0")/.."
# size Spark sessions (tests, bench) to this host unless told otherwise
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
echo "== pytest (tier-1) =="
timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
echo "== Spark vs DuckDB oracle parity (sf0.01) =="
python scripts/check_oracle.py
echo "== bench (one JSON line) =="
python bench.py
