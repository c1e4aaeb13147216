#!/usr/bin/env bash
# Cross-mode correctness gate: run the FULL verify suite once per staging
# durability mode (Stage.materialize: parquet round-trip and reliable RDD
# checkpoint, vs the default localCheckpoint) and require every
# oracle-checked query to pass the DuckDB compare in each mode.
#
# StageSpec proves the staging seam mode-equal at unit level; this proves
# it END TO END — no query accidentally depends on localCheckpoint
# semantics (e.g. partition-id stability or in-memory row identity).
# check.py's pass == the driver's hash compare would pass, so "N pass,
# 0 fail" under every mode means all oracle hashes are mode-invariant.
#
# Usage: scripts/crossmode_verify.sh [sfDir]   (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
for mode in parquet reliable; do
  out=/tmp/crossmode_$mode
  rm -rf "$out"
  echo "=== stage.mode=$mode ==="
  SPARK_GRAFT_STAGE_MODE=$mode sbt -batch "runMain graft.Verify $SF $out" >/dev/null 2>&1
  python3 scripts/check.py "$SF" "$out" | tail -1
done
