#!/usr/bin/env bash
# One-shot reproduction: build, test, log_ingest and log_serve smokes, correctness vs DuckDB, bench.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_CORRECTNESS=${SF_CORRECTNESS:-/root/testdata/sf0.01}
SF_BENCH=${SF_BENCH:-/root/testdata/sf0.1}
OUT=${OUT:-/tmp/graft_verify}

echo "== compile + test =="
sbt -batch test

echo "== log_ingest benchmark smoke (gates only) =="
python3 perfbench/run.py --workload log_ingest --seed 1 --seconds 0 --trace 0

echo "== log_serve benchmark smoke (gates only) =="
python3 perfbench/run.py --workload log_serve --seed 1 --seconds 0 --trace 0

echo "== correctness dump ($SF_CORRECTNESS) =="
rm -rf "$OUT"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} sbt -batch "runMain graft.Verify $SF_CORRECTNESS $OUT"

echo "== DuckDB oracle compare =="
python3 scripts/oracle_check.py "$SF_CORRECTNESS" "$OUT"

echo "== bench ($SF_BENCH) =="
SPARK_GRAFT_SF_DIR="$SF_BENCH" sbt -batch "runMain graft.Bench" | grep '"metric"'
