#!/bin/bash
# Round-close evidence runner (r7 verdict #2: artifact commits must be
# scripted, not remembered). Runs the four selfcheck sweeps, the bench,
# the scale curve and the plan audit (which also writes PLANS.md), then
# stages every artifact so the closing `git status` is clean the moment
# the round ends.
#
#   bash tools/close_round.sh [round_tag]
#
# Each step overwrites its canonical artifact file; failures abort so a
# half-refreshed evidence set is never committed silently.
set -euo pipefail
cd "$(dirname "$0")/.."
TAG="${1:-rX}"

echo "== consolidated sweep matrix (full/TZ/partitioning/ANSI/sf0.1 — r8 verdict #5) =="
python tools/matrix.py --out "MATRIX_${TAG}.json"

echo "== fuzzed-oracle sweep (r8 verdict #1) =="
python tools/fuzz_oracles.py --json "FUZZ_${TAG}.json" --seeds 5 /root/testdata/sf0.01

echo "== fuzzed-oracle hostile legs (TZ + legacy ANSI, 3 seeds — r9 run these by hand) =="
TZ=America/New_York SPARK_GRAFT_SESSION_TZ=America/New_York \
    python tools/fuzz_oracles.py --json "FUZZ_${TAG}_tz.json" --seeds 3 /root/testdata/sf0.01
SPARK_GRAFT_ANSI=false \
    python tools/fuzz_oracles.py --json "FUZZ_${TAG}_ansi.json" --seeds 3 /root/testdata/sf0.01

echo "== bench (BENCH_full.json) =="
python bench.py

echo "== scale curve =="
python tools/make_scale10.py /root/testdata/sf0.1 10
python bench.py --scale-curve "BENCH_scale_${TAG}.json"

echo "== plan audit + PLANS.md (r11 verdict #6: docstring-vs-plan, CI-style) =="
python tools/plan_audit.py

# One add per path — a multi-path `git add` is all-or-nothing on a
# pathspec failure (one absent file would silently stage nothing).
for f in "MATRIX_${TAG}.json" "FUZZ_${TAG}.json" "FUZZ_${TAG}_tz.json" \
         "FUZZ_${TAG}_ansi.json" BENCH_full.json \
         "BENCH_scale_${TAG}.json" PLANS.md BENCH_r*.json CORRECTNESS_r*.json; do
    [ -e "$f" ] && git add -f "$f"
done
git status --short
echo "close_round: artifacts staged — commit them now."
cat <<'CHECKLIST'
close_round MANUAL CHECKLIST (r10 verdict #7; the docstring-vs-plan
leg is now AUTOMATED above by tools/plan_audit.py — keep its CLAIMS
table in sync when you add or change a query with a plan claim):
  [ ] plan-audit CLAIMS coverage: every query CHANGED this round that
      claims a plan shape in its docstring has a CLAIMS row in
      tools/plan_audit.py (the script only checks what's encoded).
  [ ] plan-test vacuity audit: any NEW plan-shape test must fail when
      its target optimization is reverted (try it), not match
      trivially against a literal that is always present.
  [ ] BENCH_full.json load_warning must be false (load gate r10 #2);
      if true, rerun bench on an idle box before committing.
CHECKLIST
