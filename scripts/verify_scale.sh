#!/usr/bin/env bash
# Scale-lake CI of record (round 13 item 6; extended to the sf10 lakes in
# round 14 per VERDICT r13 item 6).
#
# Regenerates ALL FOUR generated lakes from scratch (flat/skewed sf1 at
# k=10, flat/skewed sf10 at k=100 — gitignored, so every run re-derives
# them from the driver's sf0.1 under GenSfSpec's pinned generation
# contracts) and hash-verifies a restricted query sweep on each against
# the DuckDB oracle. Any regeneration failure or hash mismatch exits
# nonzero, so a round's bench artifacts cannot be built over a
# silently-regressed scale lake.
#
# Usage:
#   scripts/verify_scale.sh                  # default scale-critical sets
#   scripts/verify_scale.sh q1 q2 ...        # restricted (sf1 lakes only)
#   SKIP_REGEN=1 scripts/verify_scale.sh ... # reuse lakes already on disk
#   SKIP_SF10=1  scripts/verify_scale.sh ... # sf1 lakes only (fast CI)
#
# The sf1 default set is the scale-critical families the 100 TB posture
# rests on (dedup/LSH, ANN/IVF, itemsets, attribution, streaming state)
# plus every query re-planned by a skew/scale fix in r11-r14. The sf10
# set is the oracle-feasible subset: q_item_recs and sim_knn_vote are
# graded through their *_sf10_probe partial oracles (full oracles are
# DuckDB-fatal at sf10 — ARCHITECTURE playbook #4/#5), and the
# by-contract super-linear ngram/prefix family stays excluded (reasons
# in scripts/bench_scale.sh).
set -euo pipefail
cd "$(dirname "$0")/.."

QUERIES=("$@")
if [ ${#QUERIES[@]} -eq 0 ]; then
  QUERIES=(
    # dedup / LSH family
    dedup_exact dedup_minhash_lsh dedup_lsh_eval dedup_incremental_minhash
    dedup_simhash dedup_ngram_jaccard dedup_clusters_ngram
    dedup_embedding_cosine dedup_prefix_join
    # ANN / IVF family
    sim_bruteforce_topk sim_ivf_topk sim_knn_graph sim_knn_vote
    sim_kmeans_train sim_knn_vote_sf10_probe
    # itemsets + attribution (r12 skew kills)
    a_itemsets3 q_item_recs q_item_recs_sf10_probe q_attribution_linear
    g_walk_sample
    # fuzzy-match blocking (r11 j_record_linkage, r13 f_levenshtein_dedup)
    j_record_linkage f_levenshtein_dedup
    # streaming state end-states (+ the r13 restart/recovery oracle)
    q_stream_replay q_stream_join_replay q_stream_neardup_replay
    q_stream_restart_replay
  )
fi

# oracle-feasible sf10 sweep: the scale-critical families re-graded at
# 100x the bench lake; q_item_recs/sim_knn_vote ride their partial
# oracles (probes grade a deterministic sample of the FULL-corpus
# engine output — the engine still does all the work)
SF10_QUERIES=(
  dedup_exact dedup_minhash_lsh dedup_incremental_minhash dedup_simhash
  dedup_embedding_cosine f_levenshtein_dedup
  sim_bruteforce_topk sim_ivf_topk sim_kmeans_train
  sim_knn_vote_sf10_probe q_item_recs_sf10_probe
  a_itemsets3 q_attribution_linear g_walk_sample
  q_stream_replay q_stream_restart_replay
)

if [ "${SKIP_REGEN:-0}" != "1" ]; then
  echo "=== regenerating testdata/sf1 (flat, k=10) ==="
  sbt -batch "runMain graft.GenSf /root/testdata/sf0.1 testdata/sf1 10" \
    > /tmp/gensf_flat.log 2>&1 || { tail -20 /tmp/gensf_flat.log; exit 1; }
  echo "=== regenerating testdata/sf1skew (skewed, k=10) ==="
  sbt -batch "runMain graft.GenSf /root/testdata/sf0.1 testdata/sf1skew 10 skew" \
    > /tmp/gensf_skew.log 2>&1 || { tail -20 /tmp/gensf_skew.log; exit 1; }
  if [ "${SKIP_SF10:-0}" != "1" ]; then
    echo "=== regenerating testdata/sf10 (flat, k=100) ==="
    sbt -batch "runMain graft.GenSf /root/testdata/sf0.1 testdata/sf10 100" \
      > /tmp/gensf_sf10.log 2>&1 || { tail -20 /tmp/gensf_sf10.log; exit 1; }
    echo "=== regenerating testdata/sf10skew (skewed, k=100) ==="
    sbt -batch "runMain graft.GenSf /root/testdata/sf0.1 testdata/sf10skew 100 skew" \
      > /tmp/gensf_sf10skew.log 2>&1 \
      || { tail -20 /tmp/gensf_sf10skew.log; exit 1; }
  fi
fi

status=0
for lake in testdata/sf1 testdata/sf1skew; do
  out="/tmp/verify_scale_$(basename "$lake")"
  echo "=== verify ${QUERIES[*]} on $lake ==="
  sbt -batch "runMain graft.Verify $lake $out ${QUERIES[*]}" \
    > "/tmp/verify_scale_$(basename "$lake").log" 2>&1 \
    || { tail -20 "/tmp/verify_scale_$(basename "$lake").log"; status=1; continue; }
  python3 scripts/check.py "$lake" "$out" "${QUERIES[@]}" || status=1
done

# sf10 legs at a 24 GiB heap: one JVM standing in for a 10x cluster's
# aggregate memory (same convention as the bench chain's env block)
if [ "${SKIP_SF10:-0}" != "1" ]; then
  for lake in testdata/sf10 testdata/sf10skew; do
    out="/tmp/verify_scale_$(basename "$lake")"
    echo "=== verify ${SF10_QUERIES[*]} on $lake ==="
    SPARK_DRIVER_MEM=24g \
      sbt -batch "runMain graft.Verify $lake $out ${SF10_QUERIES[*]}" \
      > "/tmp/verify_scale_$(basename "$lake").log" 2>&1 \
      || { tail -20 "/tmp/verify_scale_$(basename "$lake").log"; status=1; continue; }
    python3 scripts/check.py "$lake" "$out" "${SF10_QUERIES[@]}" || status=1
  done
fi

if [ $status -ne 0 ]; then
  echo "verify_scale: FAIL — a scale lake regressed; do not build artifacts"
else
  echo "verify_scale: OK (all lakes hash-green)"
fi
exit $status
