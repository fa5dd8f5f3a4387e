#!/usr/bin/env bash
# Full local gate: compile (library and benchmark build), tests, correctness dump + DuckDB oracle replay,
# Demo smoke, bench.
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
# the two-phase scan is one physical operator (plans/OrderedScan.scala),
# which knows its partitions without tagging rows. A spark_partition_id in
# the library is a partition-id stitch, a second copy of it.
stitch=$(grep -rln 'spark_partition_id' src/main || true)
if [ -n "$stitch" ]; then
  echo "spark_partition_id in src/main: $stitch" >&2
  exit 1
fi
# cache lifetimes have one home: every release rule is a listener in
# Caches.scala. The only other query listener is Dedup's bucket-cap audit
# (its one DropAudit registration), which logs and releases nothing.
listeners=$(grep -rln 'listenerManager.register' src/main |
  grep -v -e '^src/main/scala/graft/Caches.scala$' \
    -e '^src/main/scala/graft/operators/Dedup.scala$' || true)
audits=$(grep -c 'listenerManager.register' src/main/scala/graft/operators/Dedup.scala || true)
if [ -n "$listeners" ] || [ "$audits" -gt 1 ]; then
  echo "listenerManager.register outside Caches.scala and Dedup's DropAudit: $listeners" >&2
  exit 1
fi
# cache registrations only go down (ROADMAP direction 7 aims at ~3): the
# releaseAfterConsumers( call sites in src/main outside Caches.scala may not
# exceed the committed count. Lower it when a site goes.
max_registrations=15
registrations=$(grep -rn 'releaseAfterConsumers(' src/main |
  grep -vc '^src/main/scala/graft/Caches.scala:' || true)
if [ "$registrations" -gt "$max_registrations" ]; then
  echo "$registrations releaseAfterConsumers( call sites in src/main outside" \
    "Caches.scala, more than the committed $max_registrations" >&2
  exit 1
fi
# nor may a removed cache come back as a persist with no registration: the
# .persist( call sites in src/main may not exceed the committed count either
max_persists=29
persists=$( (grep -rn '\.persist(' src/main || true) | wc -l)
if [ "$persists" -gt "$max_persists" ]; then
  echo "$persists .persist( call sites in src/main, more than the committed" \
    "$max_persists" >&2
  exit 1
fi
# the benchmark's own build calls GraftSession.apply and the graft.api
# surface: break either and the gate fails here, not at benchmark time
(cd perfbench && sbt -batch compile)
# output drift: the benchmark's tcga and corpus runs check every sink
# against the digests of the first run at the seed, and the traced runs go
# through perfbench's Replica (the API compositions step by step), so a
# refactor that moves one bit of an output fails here. tcga also runs on
# the seed-2 cohort: the normalization plan (one per-gene pass for D1 and
# the size-factor geomeans) must hold on a second gene universe too
for run in "tcga 1 0" "tcga 1 1" "tcga 2 0" "tcga 2 1" \
    "corpus_pretrain 1 0" "corpus_pretrain 1 1"; do
  set -- $run
  python3 perfbench/run.py --workload "$1" --seed "$2" --seconds 1 --trace "$3" |
    python3 -c 'import json, sys
recs = [json.loads(l) for l in sys.stdin if l.strip()]
sys.exit(0 if recs and all(r["correct"] for r in recs) else 1)' ||
    { echo "perfbench $1 (seed $2, trace $3): an output failed its check or digest" >&2; exit 1; }
done
# the benchmark's own unit tests: generator determinism, stats, span self-time
python3 -m unittest discover -s perfbench/tests
sbt -batch test
SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Verify $SF_ORACLE $OUT"
python3 tools/compare_oracle.py "$SF_ORACLE" "$OUT"
# library surfaces outside the catalog (IVF top-k reranks, freq_sketch,
# PCA projection, streaming, bucketing): the smoke must run to completion
sbt -batch "runMain graft.Demo $SF_ORACLE"
SPARK_GRAFT_SF_DIR=$SF_BENCH SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Bench" \
  | grep '"metric"' | sed 's/^\[info\] //'
