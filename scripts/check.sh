#!/usr/bin/env bash
# Full correctness gate at BOTH scale factors.
#
# The driver's gate runs at sf0.01 only; sf0.001 is the smoke corpus that
# catches SF-dependent queries — hardcoded probe ids absent from small
# data, empty candidate sets, pruning-ratio assumptions that only hold at
# volume (round 5 caught dx15/dx16's hardcoded probe keys exactly this
# way). Run this before ending a round.
#
# Usage: scripts/check.sh [query1,query2,...]   # optional filter list
set -euo pipefail
cd "$(dirname "$0")/.."

FILTER="${1:-}"
FAILED=0
# per-invocation dirs (PID-scoped so a concurrent filtered run can't
# clobber a full gate's in-flight dump); removed only on a PASSING
# exit — on any failure (gate FAIL, set -e abort, ctrl-C) the dumps
# persist for post-mortem and the trap prints where they are
cleanup() {
  if [ "${OK:-0}" -eq 1 ]; then
    rm -rf "/tmp/check_sf0.001_$$" "/tmp/check_sf0.01_$$"
  else
    echo "dumps preserved: /tmp/check_sf0.001_$$ /tmp/check_sf0.01_$$" >&2
  fi
}
trap cleanup EXIT
for SF in sf0.001 sf0.01; do
  OUT="/tmp/check_${SF}_$$"
  rm -rf "$OUT"
  echo "=== $SF: Verify → $OUT ==="
  SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify /root/testdata/$SF $OUT $FILTER" 2>&1 \
    | grep -F '[verify]' || true
  echo "=== $SF: DuckDB oracle ==="
  if [ -n "$FILTER" ]; then
    # filtered runs report absent queries as "no spark output" (and a
    # nonzero exit) — only the requested names matter
    LINES=$(python3 scripts/oracle_check.py "/root/testdata/$SF" "$OUT" \
      | grep -E "^(PASS|FAIL) ($(echo "$FILTER" | tr ',' '|')):?" || true)
    echo "$LINES"
    N_WANT=$(echo "$FILTER" | tr ',' '\n' | grep -c .)
    N_PASS=$(echo "$LINES" | grep -c '^PASS' || true)
    [ "$N_PASS" -eq "$N_WANT" ] || FAILED=1
  else
    # one oracle pass, captured in the dump dir (kept on failure): print
    # its summary and test the capture. A non-zero exit marks the gate
    # failed without aborting (set -e), so the summary below still prints
    python3 scripts/oracle_check.py "/root/testdata/$SF" "$OUT" \
      > "$OUT/oracle_check.txt" || FAILED=1
    tail -3 "$OUT/oracle_check.txt"
    grep -q ', 0 fail' "$OUT/oracle_check.txt" || FAILED=1
  fi
done
if [ "$FAILED" -ne 0 ]; then echo "CHECK FAILED"; exit 1; fi
OK=1
echo "CHECK OK (both SFs)"
