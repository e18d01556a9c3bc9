#!/usr/bin/env bash
# Full pre-round-end validation: oracle compare at every SF, cross-
# parallelism determinism, plan audit, weak-scaling byte gates, the
# engine benchmark's selftest, test suite, bench line.
# Usage: tools/roundcheck.sh   (from the repo root; ~25 min)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== tests =="
sbt -batch test | grep -E 'Tests:|All tests'

echo "== plan audit =="
sbt -batch "runMain graft.PlanAudit" | grep -E '^(\[info\] )?(PASS|FAIL|==)' | tail -3

echo "== weak scaling (sf0.1, x8: stored-probe byte gates) =="
SPARK_GRAFT_CPUS="$(nproc)" sbt -batch "runMain graft.WeakScale /root/testdata/sf0.1 8" | grep -E '== weak-scaling' | tail -1

echo "== perfbench selftest =="
python3 perfbench/run.py --selftest | tail -1

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
