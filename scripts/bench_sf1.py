#!/usr/bin/env python3
"""Build the checked-in sf1 bench artifact from two Bench runs.

Usage:
  python3 scripts/bench_sf1.py <baseline_bench.json> <bench.json> <out.json> \
      [profile]

Profiles (triage map + ratio ceiling): `sf1` (default) compares a 10x-data
run against its 1x baseline at a 10x wall ceiling; `skew` compares the
SKEWED sf1 lake against the FLAT sf1 lake — same volume, 3x ceiling, so
every flagged query is pure skew amplification.

Joins the per-query maps, computes sf1/sf0.1 wall ratios, and attaches a
MACHINE-READABLE triage label to every query whose wall grew more than
10x for the 10x data (the same ceiling the round-11 sweep used):

  fixed        - was super-linear, re-planned; ratio should now be <10x
                 (listed so a regression past 10x is loud)
  output_bound - the ANSWER grows super-linearly on this fixture; wall is
                 sub-output-linear
  by_contract  - the operator's contract is super-linear (exact ground
                 truth eval, exact similarity join on a densifying
                 fixture, n^1.5 IVF graph build)
  attribution  - shared memoized setup charged to this query (should not
                 occur since Bench's explicit setup line items)
  unreviewed   - NEW >10x query; the build must triage it before the
                 artifact is committed (exit 1 so it can't slip through)

The label map is maintained here, next to the code that enforces it, so
the triage travels as data instead of ARCHITECTURE.md prose.
"""
import json
import sys

# round-11/12 triage decisions (see history/ARCHITECTURE_rounds.md
# "Round-11: the sf1 campaign" for the full reasoning per query)
TRIAGE_SF1 = {
    "f_levenshtein_dedup": "fixed",          # FastSS deletion-variant
                                             #   blocking (r13); candidates
                                             #   track near-dup density
    "dedup_prefix_join": "output_bound",     # exact join: candidates ∝ true pairs
    "dedup_lsh_eval": "by_contract",         # compares vs exact ground truth
    "sim_knn_graph": "by_contract",          # n·nProbe·√n = n^1.5 graph build
    "j_interval_overlap": "fixed",           # histogram+kernel plan (r11)
    "j_record_linkage": "fixed",             # scaling blocking key (r11)
    "dedup_ngram_jaccard": "by_contract",    # closed-vocab DF-capped index:
    "dedup_containment": "by_contract",      #   every shingle's df scales with
    "dedup_clusters_ngram": "by_contract",   #   the corpus (worst case; LSH is
    "dedup_strip_spans": "by_contract",      #   the designed scale path)
    "sim_knn_vote": "fixed",                 # sqrt-n IVF ladder (r12 — kept a
                                             #   hardcoded 16 cells through the
                                             #   r11 sim_knn_graph fix)
    "dedup_embedding_cosine": "fixed",       # corpus-relative sign-LSH band
                                             #   ladder (r14 — fixed 32-bit/
                                             #   4x8 geometry was 10.2x at sf1,
                                             #   cap-lossy at sf10)
}

# skew-vs-flat triage (baseline = the FLAT sf1 bench, candidate = the
# SKEWED sf1 bench — same volume, so any ratio past the ceiling is pure
# skew amplification, the straggler evidence the flat lake cannot show).
# Queries whose OUTPUT or candidate set grows with duplication/hot-key
# density are expected to cost more on the hostile lake and are labeled
# here; anything else past the ceiling is unreviewed and fails the build.
TRIAGE_SKEW = {
    # r12 sweep decisions (see history/ARCHITECTURE_rounds.md "Round-12")
    "a_itemsets3": "fixed",            # basket-wise support counting
    "q_attribution_linear": "fixed",   # window-edge cumulative counts
    "g_walk_sample": "fixed",          # distinct-first edge build
    "q_stream_join_replay": "output_bound",  # real pair set grows 62x
                                       #   (22k -> 1.37M, half from one
                                       #   hot user) for ~7x wall
    # the dedup/LSH families legitimately do MORE work on the near-dup-
    # dense lake (pairs exist there; the flat lake has none) — anything
    # of that class that crosses 3x gets labeled on sight below
    "dedup_minhash_lsh": "output_bound",
    "dedup_ngram_jaccard": "output_bound",
    "dedup_clusters_ngram": "output_bound",
    "q_stream_neardup_replay": "output_bound",
}

# sf10 campaign (round 13): k=100 lakes, RESTRICTED to the scale-critical
# families (the full-suite oracles are not all feasible at 60M rows —
# exclusions documented in scripts/bench_scale.sh). Baseline for "sf10" is
# a restricted sf1 run of the same query set; for "skew10" the flat sf10
# run. Labels follow the same discipline: anything super-ceiling without
# a reviewed label fails the artifact build.
TRIAGE_SF10 = {
    "f_levenshtein_dedup": "output_bound",   # replica near-dup name pairs
                                             #   grow ~C(k,2): 110x sf1's
    "dedup_minhash_lsh": "output_bound",     # true pair set grows with
    "dedup_incremental_minhash": "output_bound",  # replica count
    "q_stream_neardup_replay": "output_bound",
    "dedup_embedding_cosine": "fixed",       # corpus-relative band ladder
                                             #   (r14)
    # dedup_clusters_ngram is EXCLUDED from the sf10 bench set entirely
    # (bench_scale.sh: ~n^2 shingle collisions on the closed vocab,
    # 8 GiB OOM at 50 min) — no label needed; listed here as a comment so
    # this map and the bench set stay reconciled.
}

TRIAGE_SKEW10 = {
    # same classes as TRIAGE_SKEW: dedup/pair queries do MORE true work
    # on the near-dup-dense lake; attribution/itemsets must NOT (their
    # r12 rewrites are the thing under test)
    "dedup_minhash_lsh": "output_bound",
    "dedup_incremental_minhash": "output_bound",
    "q_stream_neardup_replay": "output_bound",
    # dedup_clusters_ngram and q_stream_join_replay are EXCLUDED from the
    # skewed-sf10 bench set (bench_scale.sh: clusters_ngram as above;
    # join_replay's hot-user pair set is ~50M rows through one stateful
    # task — measured 42+ CPU-min) — comments, not labels, so a renamed
    # query can't silently ride a stale entry.
}

# Vacuity contracts: a PASS on an empty (or trivially small) answer must
# be explicit, never silent. Enforced when the candidate bench carries a
# "rows" map (Bench emits one per run); a missing rows map on a profile
# that declares contracts fails the build.
#   "==0"  the query is EXPECTED empty on this lake (document why);
#          nonzero rows means the fixture or contract changed — review.
#   ">0"   the query must produce output on this lake; zero rows means a
#          silent all-zeros regression (the thing this guard exists for).
EXPECT_ROWS = {
    # flat k=10 replication: same contract as sf10 (replica part ids are
    # fresh, counts stay original, thr grows 10x) — verified 0 rows at
    # the r14 sf1 sweep; the skew lake carries the content
    "sf1": {
        "a_itemsets3": "==0",
        "q_item_recs": "==0",
    },
    "skew": {
        "a_itemsets3": ">0",
        "q_item_recs": ">0",
    },
    "sf10": {
        # flat k=100 replication renumbers part ids per replica, so no
        # pair/triple crosses the corpus-relative support threshold (each
        # replica's pairs are distinct id pairs with the ORIGINAL count
        # while thr grows 100x) — the PASS is expected-empty by
        # generation contract, asserted here so an engine regression to
        # all-zeros can't hide behind it
        "a_itemsets3": "==0",
        "q_item_recs": "==0",
    },
    "skew10": {
        # the hot-part Zipf baskets MUST yield frequent triples (758 at
        # r13's judge re-grade) and recommendations; empty means the
        # relative-support path regressed
        "a_itemsets3": ">0",
        "q_item_recs": ">0",
    },
}

PROFILES = {
    # (triage map, default ceiling): sf1 = 10x data so 10x wall is the
    # line; skew = same volume so 3x is already a straggler signal
    "sf1": (TRIAGE_SF1, 10.0),
    "skew": (TRIAGE_SKEW, 3.0),
    "sf10": (TRIAGE_SF10, 10.0),
    "skew10": (TRIAGE_SKEW10, 3.0),
}


def load(path):
    d = json.loads(open(path).read())
    return d


def main():
    sf01, sf1, out = sys.argv[1], sys.argv[2], sys.argv[3]
    profile = sys.argv[4] if len(sys.argv) > 4 else "sf1"
    triage_map, ceiling = PROFILES[profile]
    a, b = load(sf01), load(sf1)
    qa, qb = a["queries"], b["queries"]
    # vacuity contracts before anything else: a wall-time artifact built
    # over a silently-empty answer is worse than no artifact
    vacuity_failures = []
    contracts = EXPECT_ROWS.get(profile, {})
    rows = b.get("rows")
    if contracts and rows is None:
        vacuity_failures.append(
            f"profile {profile} declares EXPECT_ROWS but the bench run "
            f"carries no rows map — rerun with a rows-emitting Bench")
    errors = b.get("errors") or {}
    for q, contract in contracts.items():
        # a contract query that ERRORED in Bench never lands in the rows
        # map (only in "errors") and one dropped from the run set lands in
        # neither — both are exactly the silent-empty-artifact hole
        # EXPECT_ROWS exists to close, so both fail the build explicitly
        # (ADVICE r14: the old `q not in rows: continue` skipped them)
        if q in errors:
            vacuity_failures.append(
                f"{q}: errored in the bench run ({errors[q]}) — contract "
                f"'{contract}' unverifiable")
            continue
        if rows is None:
            continue  # missing-map case already failed above
        if q not in rows:
            vacuity_failures.append(
                f"{q}: absent from the bench rows map — dropped from the "
                f"run set? contract '{contract}' unverified")
            continue
        n = rows[q]
        ok = (n == 0) if contract == "==0" else (n > 0)
        if not ok:
            vacuity_failures.append(
                f"{q}: rows={n} violates '{contract}' on profile {profile}")
    common = sorted(set(qa) & set(qb))
    ratios = {q: round(qb[q] / max(qa[q], 1e-3), 2) for q in common}
    flagged = {q: r for q, r in ratios.items() if r > ceiling}
    triage = {}
    unreviewed = []
    for q, r in sorted(flagged.items(), key=lambda kv: -kv[1]):
        label = triage_map.get(q, "unreviewed")
        if label == "unreviewed":
            unreviewed.append(q)
        triage[q] = {"ratio": r, "baseline_sec": round(qa[q], 3),
                     "sec": round(qb[q], 3), "label": label}
    # 'fixed' entries are listed even when under the ceiling, so the next
    # reader sees the fix held
    for q, label in triage_map.items():
        if label == "fixed" and q in common and q not in triage:
            triage[q] = {"ratio": ratios[q], "baseline_sec": round(qa[q], 3),
                         "sec": round(qb[q], 3), "label": "fixed"}
    artifact = {
        "metric": "total", "unit": "sec", "profile": profile,
        "ceiling": ceiling,
        "sf": b.get("sf"), "baseline_sf": a.get("sf"),
        "value": round(sum(qb.values()), 1),
        "baseline_value": round(sum(qa[q] for q in common), 1),
        "wall_ratio": round(
            sum(qb[q] for q in common) / max(sum(qa[q] for q in common),
                                             1e-3), 2),
        "setup": b.get("setup"),
        "env": b.get("env"),
        "contaminated": b.get("contaminated"),
        "retime_median_ratio": b.get("retime_median_ratio"),
        "queries": {q: round(v, 3) for q, v in qb.items()},
        "rows": rows,
        "vacuity_contracts": contracts or None,
        "vs_baseline_ratio": ratios,
        "triage_over_ceiling": triage,
    }
    json.dump(artifact, open(out, "w"), indent=1)
    print(f"wrote {out} [{profile}]: total {artifact['value']}s vs baseline "
          f"{artifact['baseline_value']}s ({artifact['wall_ratio']}x wall); "
          f"{len(flagged)} queries over {ceiling}x, "
          f"{len(unreviewed)} unreviewed")
    if unreviewed:
        print(f"UNREVIEWED >{ceiling}x queries (triage before committing): "
              + ", ".join(unreviewed))
        return 1
    if vacuity_failures:
        print("VACUITY contract failures: " + "; ".join(vacuity_failures))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
