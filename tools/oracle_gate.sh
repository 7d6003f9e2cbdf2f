#!/usr/bin/env bash
# The scripted oracle gate: dump every SparkEntry query with graft.Verify,
# then compare each against its DuckDB oracle SQL (tools/compare_oracle.py).
# Exits non-zero if the dump fails or any query mismatches.
#
# Usage: tools/oracle_gate.sh <sfDir> [outDir]
#   sfDir   testdata scale-factor directory (e.g. .../testdata/sf0.01)
#   outDir  dump directory (default: a fresh temporary directory)
set -euo pipefail
sf=$(realpath "${1:?usage: oracle_gate.sh <sfDir> [outDir]}")
out=$(realpath -m "${2:-$(mktemp -d)/verify_out}")
cd "$(dirname "$0")/.."
sbt --batch "runMain graft.Verify $sf $out"
# Verify logs a failing query and goes on; the compare then reports it
# as missing, so one exit status covers both
python3 tools/compare_oracle.py "$sf" "$out"
