#!/bin/bash
# Correctness gate: the selfcheck sweep matrix, the fuzzed-oracle legs and
# the plan audit, in that order. Stops at the first failing step.
#
#   bash tools/gate.sh
#
# Writes MATRIX.json, FUZZ.json, FUZZ_tz.json, FUZZ_ansi.json and PLANS.md
# at the repo root. Timing (bench.py, the scale curve) is measurement, not
# a gate, and is not run here.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== selfcheck matrix (sf0.01 full/hostile-TZ/local[3]/ANSI-legacy + sf0.1 headline) =="
python tools/matrix.py --out MATRIX.json

echo "== fuzzed oracles (default session, 5 seeds) =="
python tools/fuzz_oracles.py --json FUZZ.json --seeds 5 /root/testdata/sf0.01

echo "== fuzzed oracles (hostile TZ and legacy ANSI, 3 seeds each) =="
TZ=America/New_York SPARK_GRAFT_SESSION_TZ=America/New_York \
    python tools/fuzz_oracles.py --json FUZZ_tz.json --seeds 3 /root/testdata/sf0.01
SPARK_GRAFT_ANSI=false \
    python tools/fuzz_oracles.py --json FUZZ_ansi.json --seeds 3 /root/testdata/sf0.01

echo "== plan audit (writes PLANS.md) =="
python tools/plan_audit.py

echo "gate: all steps passed"
