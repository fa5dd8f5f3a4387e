#!/usr/bin/env bash
# Full local gate: compile (library and benchmark build), tests, correctness dump + DuckDB oracle replay,
# bench. Mirrors what the driver runs per round.
set -euo pipefail
cd "$(dirname "$0")/.."
SF_ORACLE=${SF_ORACLE:-/root/testdata/sf0.01}
SF_BENCH=${SF_BENCH:-/root/testdata/sf0.1}
CPUS=${SPARK_GRAFT_CPUS:-8}
OUT=${OUT:-/tmp/gate_out}

# Clean-environment gate: leftover scratch layouts have masked a
# stale-path test bug before (round-6 verdict) — kill the class. Every
# graft scratch dir is write-if-missing or per-run temp, so a cold start
# must stay green.
rm -rf /tmp/graft_*

sbt -batch compile
# the benchmark's own build calls GraftSession.apply and the graft.api
# surface: break either and the gate fails here, not at benchmark time
(cd perfbench && sbt -batch compile)
sbt -batch test
SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Verify $SF_ORACLE $OUT"
python3 tools/compare_oracle.py "$SF_ORACLE" "$OUT"
SPARK_GRAFT_SF_DIR=$SF_BENCH SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Bench" \
  | grep '"metric"' | sed 's/^\[info\] //'
