#!/usr/bin/env bash
# Round gate: the exact verification sequence a round must pass before it
# closes (r7 verdict ask #5 — the cadence COVERAGE.md describes, as one
# command a future session can run). Stages run SEQUENTIALLY on purpose:
# the oracle sweeps, pytest, and bench share the local warehouse/derby and
# must not run concurrently.
#
# Usage:
#   bash scripts/round_gate.sh            # full gate (~60-80 min)
#   bash scripts/round_gate.sh --fast     # dev gate: strict sf0.001 + pytest
#
# Output: per-stage PASS/FAIL lines + a final verdict; stage logs under
# /tmp/round_gate/. Stamp the summary block into COVERAGE.md when green.
set -u
cd "$(dirname "$0")/.."
LOGDIR=/tmp/round_gate
mkdir -p "$LOGDIR"
FAST=0
[ "${1:-}" = "--fast" ] && FAST=1

declare -a RESULTS=()
fail=0

run_stage() {
  local name="$1"; shift
  local log="$LOGDIR/$name.log"
  local t0=$SECONDS
  echo "=== $name: $* (log: $log)"
  if "$@" >"$log" 2>&1; then
    local verdict="PASS"
  else
    local verdict="FAIL"
    fail=1
  fi
  # The oracle sweeps report failures in-band with exit 0 historically;
  # grep the canonical line as the real gate.
  if [[ "$name" == sweep_* ]]; then
    if tail -5 "$log" | grep -q "^0 failures"; then verdict="PASS"; else verdict="FAIL"; fail=1; fi
  fi
  if [[ "$name" == pytest* ]]; then
    if tail -5 "$log" | grep -Eq "[0-9]+ passed" && ! tail -5 "$log" | grep -Eq "[0-9]+ failed"; then
      verdict="PASS"
    else verdict="FAIL"; fail=1; fi
  fi
  if [[ "$name" == bench* ]]; then
    if grep -q '"metric"' "$log"; then verdict="PASS"; else verdict="FAIL"; fail=1; fi
  fi
  local line
  line=$(printf '%-28s %s  [%ds]' "$name" "$verdict" $((SECONDS - t0)))
  RESULTS+=("$line")
  echo "--- $line"
}

# Artifact-tracking stage (r9 verdict ask #2, fifth consecutive round of
# untracked round artifacts): the gate FAILS if any driver artifact
# (CORRECTNESS_r*.json / BENCH_r*.json) sits untracked in the work tree —
# they must be `git add`ed before the round can stamp green.
check_artifacts_tracked() {
  local untracked
  untracked=$(git status --short -- 'CORRECTNESS_r*.json' 'BENCH_r*.json' | grep '^??' || true)
  if [ -n "$untracked" ]; then
    echo "untracked round artifacts (git add them):"
    echo "$untracked"
    return 1
  fi
  echo "all CORRECTNESS_r*/BENCH_r* artifacts tracked"
  return 0
}
run_stage artifacts_tracked check_artifacts_tracked

run_stage sweep_strict_sf0.001 python scripts/check_oracle.py /root/testdata/sf0.001
if [ "$FAST" = 0 ]; then
  run_stage sweep_strict_sf0.01 python scripts/check_oracle.py /root/testdata/sf0.01
  run_stage sweep_strict_sf0.1 python scripts/check_oracle.py /root/testdata/sf0.1
  # Driver simulation: the full corpus under a PLAIN SparkSession (no
  # solspark config profile) — catches config-dependent output bugs
  # corpus-wide (Arrow list rendering, nanos fallback).
  run_stage sweep_vanilla_sf0.01 python scripts/check_oracle.py --vanilla /root/testdata/sf0.01
fi
run_stage pytest python -m pytest tests/ -q
if [ "$FAST" = 0 ]; then
  # Quiet-box bench twin: nothing else running; the JSON line lands in the
  # log — copy it to BENCH_r{N}_quietbox.json and recompute the
  # r3-comparable 22-query subtotal against BENCH_r03.json's query set.
  run_stage bench python bench.py
fi

echo
echo "================ round gate summary ================"
for line in "${RESULTS[@]}"; do echo "$line"; done
if [ "$fail" = 0 ]; then
  echo "ROUND GATE: GREEN — stamp this block into COVERAGE.md"
else
  echo "ROUND GATE: RED — fix before closing the round"
fi
exit "$fail"
