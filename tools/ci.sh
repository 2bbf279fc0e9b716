#!/usr/bin/env bash
# Full local gate: compile, unit tests, oracle verify at all three scale
# factors, bench at sf0.1. Mirrors what the round driver checks.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== compile + test =="
sbt -batch test | grep -E "Tests:|All tests" | tail -2

for sf in sf0.001 sf0.01 sf0.1; do
  echo "== verify $sf =="
  out="/tmp/graft_ci_$sf"
  rm -rf "$out"
  # keep only the per-entry "[verify] <name> failed: <msg>" lines, so an
  # entry that throws shows why next to check.py's FAIL
  sbt -batch "runMain graft.Verify /root/testdata/$sf $out" 2>&1 \
    | { grep -F "[verify]" || true; }
  python3 tools/check.py "/root/testdata/$sf" "$out" | tail -1
done

echo "== bench sf0.1 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" 2>&1 \
  | grep '"metric"' | sed 's/^\[info\] //'
