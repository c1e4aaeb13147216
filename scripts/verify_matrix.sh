#!/usr/bin/env bash
# Invariance gates: run the FULL verify suite + DuckDB compare once per
# value of one axis, and require "N pass, 0 fail" at every value. check.py's
# pass == the driver's hash compare would pass.
#
#   mode  staging durability mode (Stage.materialize: parquet round-trip and
#         reliable RDD checkpoint, vs the default localCheckpoint). StageSpec
#         proves the staging seam mode-equal at unit level; this proves it
#         end to end — no query depends on localCheckpoint semantics
#         (partition-id stability, in-memory row identity).
#   sf    data volume. The driver's gate runs only sf0.01 while the bench
#         runs sf0.1, so a cap- or threshold-carrying operator (LSH bucket
#         caps, posting-list caps, IVF probe counts, histogram bin edges)
#         could be tuned to the gated SF and wrong at the benched one. Caps
#         and thresholds live in the query definitions, mirrored on both
#         engines, so every SF must pass.
#   cpus  local[N] and N shuffle partitions at awkward, non-divisible
#         counts. The determinism contract (ARCHITECTURE.md) claims every
#         result is order-independent; partition count is the knob that
#         perturbs partial-aggregate grouping, merge-tree shape and row
#         arrival order at every exchange.
#
# Usage: scripts/verify_matrix.sh mode|sf|cpus [value ...]
#   defaults: mode: parquet reliable; sf: sf0.001 sf0.1; cpus: 5 13
#   sf values are names under /root/testdata or paths (e.g. a generated
#   testdata/sf1). The mode and cpus axes run at $SPARK_GRAFT_SF (default
#   sf0.01, the driver's gated SF); every axis passes SPARK_GRAFT_CPUS
#   through unless it sets it.
# Every value runs and prints its FAIL lines plus the summary; the exit
# status is nonzero if any value failed.
set -uo pipefail
cd "$(dirname "$0")/.."
axis=${1:-}
case "$axis" in
  mode) defaults=(parquet reliable) ;;
  sf) defaults=(sf0.001 sf0.1) ;;
  cpus) defaults=(5 13) ;;
  *) echo "usage: $0 mode|sf|cpus [value ...]" >&2; exit 2 ;;
esac
shift
values=("$@")
[ $# -eq 0 ] && values=("${defaults[@]}")
sfdir() { case "$1" in */*) echo "$1" ;; *) echo "/root/testdata/$1" ;; esac; }
fail=0
for v in "${values[@]}"; do
  dir=$(sfdir "${SPARK_GRAFT_SF:-sf0.01}")
  vars=()
  case "$axis" in
    mode) vars=("SPARK_GRAFT_STAGE_MODE=$v") ;;
    sf) dir=$(sfdir "$v") ;;
    cpus) vars=("SPARK_GRAFT_CPUS=$v") ;;
  esac
  out=/tmp/verify_matrix_${axis}_${v//\//_}
  rm -rf "$out"
  echo "=== $axis=$v ($dir) ==="
  if ! env "${vars[@]}" sbt -batch "runMain graft.Verify $dir $out" \
      >/dev/null 2>&1; then
    echo "FAIL $axis=$v: graft.Verify exited nonzero"
    fail=1
    continue
  fi
  if ! python3 scripts/check.py "$dir" "$out" | grep -E "^FAIL|pass, "; then
    echo "FAIL $axis=$v: see the lines above"
    fail=1
  fi
done
exit $fail
