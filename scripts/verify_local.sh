#!/bin/bash
# Run the Verify dump at sf0.01 and compare against DuckDB locally —
# a replica of the driver's correctness gate.
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
LOG=$(mktemp)
trap 'rm -f "$LOG"' EXIT
# the full log first: a reader that stops early (head) must not cut it
# short, or a LEAK line printed late would never reach the gate below
status=0
sbt -batch "runMain graft.Verify $SF $OUT" >"$LOG" 2>&1 || status=$?
grep -Ei 'error|exception|\[verify\]' "$LOG" | head -30 || true
if [ "$status" -ne 0 ]; then
  echo "== FAIL: sbt exited with status $status =="
  exit "$status"
fi
# hygiene gate: any operator cache that survives its query's releaseAll
# is a regression even when every value matches
if grep -q '\[verify\] LEAK' "$LOG"; then
  echo "== FAIL: leaked operator-internal caches =="
  grep '\[verify\] LEAK' "$LOG"
  exit 1
fi
python3 scripts/oracle_check.py "$SF" "$OUT"
