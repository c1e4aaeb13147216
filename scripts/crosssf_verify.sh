#!/usr/bin/env bash
# Cross-SF correctness gate: run the FULL verify suite + DuckDB compare at
# sf0.001 AND sf0.1 (the driver's own gate runs only sf0.01, while the
# bench runs sf0.1 — so a cap- or threshold-carrying operator (LSH bucket
# caps, posting-list caps, IVF probe counts, histogram bin edges) could in
# principle be silently tuned to the gated SF and wrong at the benched one).
#
# Every oracle is the same SQL at every SF — caps and thresholds live in
# the QUERY definitions, mirrored identically on both engines — so "N pass,
# 0 fail" at all three SFs means no operator's correctness depends on the
# data volume it was gated at. Pair with crossmode_verify.sh (staging-mode
# invariance) for the full invariance matrix.
#
# Usage: scripts/crosssf_verify.sh [sf ...]   (default: sf0.001 sf0.1)
#   env: SPARK_GRAFT_CPUS (default: all cores)
set -euo pipefail
cd "$(dirname "$0")/.."
SFS=("$@")
[ $# -eq 0 ] && SFS=(sf0.001 sf0.1)
fail=0
for sf in "${SFS[@]}"; do
  # bare names resolve under /root/testdata; paths (e.g. a generated
  # testdata/sf1) are used as-is
  case "$sf" in */*) dir=$sf ;; *) dir=/root/testdata/$sf ;; esac
  out=/tmp/crosssf_$sf
  rm -rf "$out"
  echo "=== $sf ==="
  sbt -batch "runMain graft.Verify $dir $out" >/dev/null 2>&1
  # print FAIL detail lines plus the summary — not just the summary, so a
  # red run names the queries that broke
  python3 scripts/check.py "$dir" "$out" | grep -E "^FAIL|pass, " || fail=1
done
exit $fail
