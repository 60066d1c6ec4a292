#!/usr/bin/env bash
# r12 (VERDICT r11 #5): round-end gate — refuse a snapshot/commit on a red
# suite or on leftover experiment toggles. The r11 round-end commit shipped
# a `TEMP-TRIAD` measurement revert that left `sbt test` red for a week of
# judge time; this script is the cheap insurance.
#
# Usage:
#   dev/round_gate.sh quick   # marker grep + PlanShapeSpec/PlanLintSpec/TablesSpec (~5 min)
#   dev/round_gate.sh full    # marker grep + the whole suite
#
# Exit codes: 0 = safe to commit; nonzero = DO NOT COMMIT (reason printed).
set -euo pipefail
cd "$(dirname "$0")/.."
mode="${1:-quick}"

# 1. Experiment-toggle markers must never reach a commit. The convention:
#    any `TEMP-` tag in src/ marks a measurement-only local state.
if grep -rn "TEMP-" src/ --include='*.scala' >/tmp/graft_gate_markers.txt 2>/dev/null \
    && [ -s /tmp/graft_gate_markers.txt ]; then
  echo "round_gate: REFUSING — experiment markers present in src/:" >&2
  cat /tmp/graft_gate_markers.txt >&2
  exit 2
fi

# 1b (r14, VERDICT r13 #7): any STAGED bench record must be
#    self-consistent evidence - measured on this tree, on a quiet host
#    (cal_ratio <= 1.5). A contended or stale record costs the judge a
#    re-run; refuse it here instead.
staged_bench=$(git diff --cached --name-only 2>/dev/null | grep -E '^BENCH_.*\.json$' || true)
for rec in $staged_bench; do
  python3 dev/check_bench.py "$rec" || {
    echo "round_gate: REFUSING - staged bench record $rec fails check_bench" >&2
    exit 3
  }
done

# 2. The suite (or its structural core) must be green on the tree as-is.
#    TablesSpec pins the table loaders' schemas to Spark's inference.
case "$mode" in
  quick) sbt -batch "testOnly graft.PlanShapeSpec graft.PlanLintSpec graft.TablesSpec" ;;
  full)  sbt -batch test ;;
  *) echo "usage: dev/round_gate.sh [quick|full]" >&2; exit 1 ;;
esac
echo "round_gate: green ($mode) — safe to commit"
