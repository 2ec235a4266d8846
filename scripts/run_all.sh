#!/usr/bin/env bash
# One-shot reproduction: build, closed-set audits, test, log_ingest, log_serve and index_lifecycle smokes and exact counts, correctness vs DuckDB, bench.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_CORRECTNESS=${SF_CORRECTNESS:-/root/testdata/sf0.01}
SF_BENCH=${SF_BENCH:-/root/testdata/sf0.1}
OUT=${OUT:-/tmp/graft_verify}

echo "== closed-set audits (persist, store protocol, collect) =="
sbt -batch "testOnly graft.PersistAuditSpec graft.StoreProtocolAuditSpec graft.CollectAuditSpec"

echo "== compile + test =="
sbt -batch test

echo "== log_ingest benchmark smoke (gates only) =="
python3 perfbench/run.py --workload log_ingest --seed 1 --seconds 0 --trace 0

echo "== log_ingest exact counts (rows, chunks and files per batch; stored bytes) =="
python3 perfbench/test_exact_counts.py log_ingest

echo "== log_serve benchmark smoke (gates only) =="
python3 perfbench/run.py --workload log_serve --seed 1 --seconds 0 --trace 0

echo "== log_serve exact counts (jobs and files read per op) =="
python3 perfbench/test_exact_counts.py log_serve

echo "== index_lifecycle benchmark smoke (gates only) =="
python3 perfbench/run.py --workload index_lifecycle --seed 1 --seconds 0 --trace 0

echo "== index_lifecycle exact counts (jobs and files per op; store files) =="
python3 perfbench/test_exact_counts.py index_lifecycle

echo "== correctness dump ($SF_CORRECTNESS) =="
rm -rf "$OUT"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} sbt -batch "runMain graft.Verify $SF_CORRECTNESS $OUT"

echo "== DuckDB oracle compare =="
python3 scripts/oracle_check.py "$SF_CORRECTNESS" "$OUT"

echo "== bench ($SF_BENCH) =="
SPARK_GRAFT_SF_DIR="$SF_BENCH" sbt -batch "runMain graft.Bench" | grep '"metric"'
