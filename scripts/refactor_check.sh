#!/usr/bin/env bash
# Refactor check: a change that must move no Spark plan and no oracle text
# is compared against a parent revision, query by query.
#
# For a `git archive` checkout of <parent-rev> and for this working tree it
#   - dumps oracle_sql.json (a one-query Verify at sf0.001 still writes the
#     full map) and counts identical and whitespace-only entries, listing
#     the names that differ otherwise;
#   - runs `PROFILE_PLAN=1 SPARK_GRAFT_BENCH_RETRIES=0 graft.Bench [query…]`
#     on the sf lake and compares each query's formatted plan from stdout,
#     with expression ids (#123), plan_id=, RDD ids, scratch paths and
#     lambda addresses masked;
#   - compares each query's jobs, stages and tasks from the `profile` map
#     of the Bench artifact, rerunning twice per side the queries whose
#     plans or counts differ: a plan then differs only if no tree run
#     printed a plan any parent run printed, a count only if the tree's
#     runs fall outside the parent's range.
# The parent must have Bench's `profile` map and PROFILE_PLAN. It exits
# nonzero on any difference in a query outside the allow-list.
#
# Usage: scripts/refactor_check.sh [--allow q1,q2] [--stage-none]
#          [--work DIR] <parent-rev> [sf] [query…]
#   sf           a name under /root/testdata or a path (default sf0.01)
#   --stage-none plans with spark.graft.stage.mode=none, so staged
#                subtrees show in the plans
#   --work       where the parent checkout and the outputs go (default
#                /tmp/refactor_check); the parent's outputs are kept per
#                revision, sf and mode, so a rerun only runs this tree
set -uo pipefail
cd "$(dirname "$0")/.."
tree=$PWD
allow="" mode=local work=/tmp/refactor_check
while [ $# -gt 0 ]; do
  case "$1" in
    --allow) allow=$2; shift 2 ;;
    --stage-none) mode=none; shift ;;
    --work) work=$2; shift 2 ;;
    *) break ;;
  esac
done
[ $# -ge 1 ] || { sed -n '2,28p' "$0" >&2; exit 2; }
rev=$(git rev-parse --verify "$1^{commit}") || exit 2
sf=${2:-sf0.01}
shift $(( $# >= 2 ? 2 : 1 ))
case "$sf" in */*) sfdir=$sf ;; *) sfdir=/root/testdata/$sf ;; esac
parent=$work/$rev
if [ ! -d "$parent/src" ]; then
  mkdir -p "$parent" && git archive "$rev" | tar -x -C "$parent" || exit 2
fi

# run <checkout> <outDir>: the oracle dump, then the profiled Bench pass
# (which exits nonzero when a query fails; its artifact records the error)
run() {
  local dir=$1 out=$2
  shift 2
  rm -rf "$out" && mkdir -p "$out"
  (cd "$dir" && PROFILE_PLAN=1 SPARK_GRAFT_BENCH_RETRIES=0 \
    SPARK_GRAFT_SF_DIR=$sfdir SPARK_GRAFT_BENCH_OUT=$out/bench.json sbt -batch \
    "set javaOptions += \"-Dspark.graft.stage.mode=$mode\"" \
    "runMain graft.Verify /root/testdata/sf0.001 $out/verify q1_pricing_summary" \
    "runMain graft.Bench $*" >"$out/bench.log" 2>&1)
  [ -s "$out/bench.json" ] \
    || { echo "FAIL: no Bench artifact from $dir, see $out/bench.log"; exit 1; }
}
key=$(basename "$sfdir")-$mode-$(echo "$*" | md5sum | cut -c1-8)
[ -s "$parent/out/$key/bench.json" ] || run "$parent" "$parent/out/$key" "$@"
run "$tree" "$work/tree/$key" "$@"

# compare <allow> <parent out,…> <tree out,…>: exits 3 with a RECHECK line
# when first-run plans or counts differ and one run per side was given
compare() {
WORK_DIR=$work python3 - "$@" <<'PY'
import json, os, re, sys
allow = set(filter(None, sys.argv[1].split(",")))
olds, news = sys.argv[2].split(","), sys.argv[3].split(",")
old, new = olds[0], news[0]
norm = lambda s: re.sub(r"\s+", " ", s).strip()
a, b = (json.load(open(f"{d}/verify/oracle_sql.json")) for d in (old, new))
diff = sorted(set(a) ^ set(b)) + [k for k in a if k in b and norm(a[k]) != norm(b[k])]
print("oracle: identical", sum(a[k] == b.get(k) for k in a),
      "whitespace-only", sum(k in b and a[k] != b[k] and norm(a[k]) == norm(b[k]) for k in a),
      "different", diff)

MASKS = [(r"#\d+L?", "#"), (r"plan_id=\d+", "plan_id="),
         (r"(/tmp|%s)/[\w./-]*" % re.escape(os.environ["WORK_DIR"]), "<scratch>"),
         (r"\$\$?Lambda[\w$/.@]*", "<lambda>"), (r"@[0-9a-f]{6,}", "@"),
         (r"RDD\[\d+\]", "RDD[]")]
def profile(d):
    plans, cur = {}, None
    for line in open(f"{d}/bench.log", errors="replace"):
        if not line.startswith("[info] "):  # stderr: Spark's log lines
            continue
        line = line[7:].rstrip("\n")
        m = re.match(r"==== (\S+) ====$", line)
        if m:
            cur = m.group(1); plans[cur] = []; continue
        if line.startswith('{"metric"'):
            cur = None
        elif cur:
            for p, r in MASKS:
                line = re.sub(p, r, line)
            plans[cur].append(line)
    art = json.load(open(f"{d}/bench.json"))
    counts = {q: tuple(p.get(k) for k in ("jobs", "stages", "tasks"))
              for q, p in art.get("profile", {}).items()}
    counts.update({q: ("error", e) for q, e in art.get("errors", {}).items()})
    return plans, counts
(pa, ca), (pb, cb) = profile(old), profile(new)
plan_first = sorted(q for q in set(pa) | set(pb) if pa.get(q) != pb.get(q))
print(f"plans: {len(pa)} parent, {len(pb)} tree; different {plan_first}")
# some queries' plans (the order of RewriteDistinctAggregates' Expand
# groups) and job counts (by up to three jobs) vary between runs of the
# same code, so both are rechecked over more runs per side
first = sorted(q for q in set(ca) | set(cb) if ca.get(q) != cb.get(q))
if (first or plan_first) and len(olds) == 1:
    print("RECHECK", *sorted(set(first) | set(plan_first)))
    sys.exit(3)
runs = lambda dirs: [profile(d) for d in dirs]
ra, rb = runs(olds), runs(news)
# a plan differs only if no run of the tree printed any plan the parent did
plan_diff = [q for q in plan_first
             if not any(r[0].get(q) in [p[0].get(q) for p in ra] for r in rb)]
print(f"plans after recheck: different {plan_diff}")
# a count differs only if the tree's runs fall outside the parent's range
sa = {q: [r[1].get(q) for r in ra] for q in first}
sb = {q: [r[1].get(q) for r in rb] for q in first}
def apart(x, y):
    if None in x + y or any(t[0] == "error" for t in x + y):
        return x != y
    return any(min(t[i] for t in y) > max(t[i] for t in x) or
               max(t[i] for t in y) < min(t[i] for t in x) for i in range(3))
count_diff = [q for q in first if apart(sa[q], sb[q])]
for q in first:
    print(f"  jobs/stages/tasks {q}: parent {sa[q]} tree {sb[q]}")
print(f"counts: {len(ca)} parent, {len(cb)} tree; different {count_diff}")
bad = (set(diff) | set(plan_diff) | set(count_diff)) - allow
if not ca or not cb:
    bad.add("<no profile map>")
print("FAIL outside allow-list:" if bad else "OK", *sorted(bad))
sys.exit(1 if bad else 0)
PY
}
out=$(compare "$allow" "$parent/out/$key" "$work/tree/$key")
status=$?
echo "$out" | grep -v '^RECHECK'
[ $status -eq 3 ] || exit $status
# rerun the queries whose plans or job counts differed, twice per side
recheck=$(echo "$out" | sed -n 's/^RECHECK //p')
echo "rechecking plans and job counts: $recheck"
olds="$parent/out/$key" news="$work/tree/$key"
for i in 1 2; do
  run "$parent" "$work/recheck/parent$i" $recheck
  run "$tree" "$work/recheck/tree$i" $recheck
  olds+=",$work/recheck/parent$i" news+=",$work/recheck/tree$i"
done
compare "$allow" "$olds" "$news" | grep -v '^oracle\|^plans:'
