#!/usr/bin/env bash
# Full pre-round-end validation: the ops materialisation-idiom and
# run-metrics listener greps, oracle compare at every SF,
# cross-parallelism determinism, plan audit, weak-scaling byte gates,
# the engine benchmark's selftest and index_ingest smoke run, test
# suite, bench line.
# Usage: tools/roundcheck.sh   (from the repo root; ~25 min)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== materialisation idioms =="
# ops materialise through Sources.hold (bounded frames) or
# .maintCheckpoint() (corpus-sized, several consumers) only
if grep -rn 'localCheckpoint(' src/main/scala/graft/ops/ ||
   grep -rn 'iterCheckpoint' src/main; then
  echo "FAIL: raw localCheckpoint( in graft/ops or iterCheckpoint in src/main"
  exit 1
fi

echo "== one run-metrics listener =="
# jobs, tasks and bytes are counted through graft.RunMetrics.measure
# only; the one other listener in src/main is Sources.onContextEnd's
# stop hook, which counts nothing
if grep -rnE '(extends|new) +([A-Za-z_]+\.)*SparkListener\b' src/main |
   grep -vE '^src/main/scala/graft/RunMetrics\.scala:' |
   grep -vE '^src/main/scala/graft/sources/Sources\.scala:[0-9]+: +sc\.addSparkListener\(new org\.apache\.spark\.scheduler\.SparkListener \{$'; then
  echo "FAIL: a SparkListener in src/main outside graft/RunMetrics.scala"
  exit 1
fi

echo "== tests =="
sbt -batch test | grep -E 'Tests:|All tests'

echo "== plan audit =="
sbt -batch "runMain graft.PlanAudit" | grep -E '^(\[info\] )?(PASS|FAIL|==)' | tail -3

echo "== weak scaling (sf0.1, x8: stored-probe byte gates) =="
SPARK_GRAFT_CPUS="$(nproc)" sbt -batch "runMain graft.WeakScale /root/testdata/sf0.1 8" | grep -E '== weak-scaling' | tail -1

echo "== perfbench selftest =="
python3 perfbench/run.py --selftest | tail -1

# the only end-to-end run of the stored-index append, delete, compact
# and admit transactions; run.py keeps its own 175 s limit
echo "== perfbench index_ingest smoke =="
ingest="$(python3 perfbench/run.py --workload index_ingest --seed 21 --seconds 10 --trace 0 | tail -1)" || true
echo "$ingest"
if ! python3 -c 'import json, sys; r = json.loads(sys.argv[1]); sys.exit(0 if r.get("correct") is True and r.get("failed") == 0 else 1)' "$ingest"; then
  echo "FAIL: index_ingest smoke run is not correct or failed ops"
  exit 1
fi

for sf in 0.001 0.01 0.1; do
  echo "== oracle compare sf$sf =="
  out=/tmp/roundcheck_sf$sf
  rm -rf "$out"
  SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.Verify /root/testdata/sf$sf $out" >/dev/null
  python3 tools/drivercheck.py "/root/testdata/sf$sf" "$out" | tail -1
done

echo "== determinism (4 vs 32 threads, sf0.01) =="
rm -rf /tmp/roundcheck_d4 /tmp/roundcheck_d32
SPARK_GRAFT_CPUS=4  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/roundcheck_d4"  >/dev/null
SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/roundcheck_d32" >/dev/null
python3 tools/determinism_check.py /tmp/roundcheck_d4 /tmp/roundcheck_d32 | tail -1

# a box with other than 32 cores writes bench_full_c<cores>.json beside
# the 32-core record
echo "== bench sf0.1 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$(nproc)" \
  sbt -batch "runMain graft.Bench" | grep '"metric"'
