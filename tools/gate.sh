#!/usr/bin/env bash
# Pre-snapshot verification gate: run EVERY check the driver/judge runs,
# fail fast, honor exit codes. Run this before any end-of-round snapshot
# (and after any change to data contracts or query registrations) —
# round 3 lost a green board to a testdata contract change that a single
# run of this script would have caught.
#
#   ./tools/gate.sh            # default gate (driver-shaped: default
#                              #   pytest suite + sf0.01 sim + audit)
#   ./tools/gate.sh --fast     # pytest + sf0.001 driver sim
#   ./tools/gate.sh --full     # everything incl. campaign-marked tests
#                              #   (JH_FULL_TESTS=1) and the benchmark's
#                              #   self-test — pre-snapshot run
set -euo pipefail
cd "$(dirname "$0")/.."

FAST=${1:-}

echo "=== gate 1/3: pytest ==="
if [[ "$FAST" == "--full" ]]; then
  JH_FULL_TESTS=1 python -m pytest tests/ -x -q
  python3 -m pytest perfbench -q -p no:cacheprovider
else
  python -m pytest tests/ -x -q
fi

echo "=== gate 2/3: driver simulation (entry + full registry vs DuckDB oracles) ==="
if [[ "$FAST" == "--fast" ]]; then
  python tools/driver_sim.py /root/testdata/sf0.001
else
  python tools/driver_sim.py
fi

echo "=== gate 3/3: plan-shape audit (pushdown/broadcast/codegen assertions) ==="
python tools/explain_audit.py

echo "GATE PASSED"
