#!/usr/bin/env python3
"""Scale evidence on the generated lakes, driven by one table, lakes.json.

  lakes.py gen PROFILE...
      Regenerate each profile's lake with graft.GenSf (source, k, skew from
      the table). The lakes are gitignored, so every run re-derives them.
  lakes.py verify [--cpus N...] TARGET...
      Run graft.Verify on each target and grade it with check.py, passing
      both the same query names. A TARGET is a profile (its lake and verify
      set) or a lake, named under /root/testdata or given as a path (the
      full suite). --cpus repeats every target at each local[N]; the
      partition count is what perturbs partial-aggregate grouping and row
      arrival order, so every count must pass too.
  lakes.py bench PROFILE OUT [--from BASE.json LAKE.json]
      Run graft.Bench on the profile's baseline lake and on its lake, each
      after a load settle wait and restricted to its bench set, then build
      OUT from the two artifacts (or from two existing ones with --from).
  lakes.py heap [HEAP...]
      Run graft.Bench over the heavy set under each driver heap (default
      from the table) and print each query's spill and peak execution
      memory from the artifact's profile map, then a total line. Then
      hash-verify the same queries at the first heap, so "it spilled" is
      also "it stayed correct".
  lakes.py compare OLD NEW [RATIO]
      Per-query walls of two Bench artifacts (complete files or truncated
      log tails), flagging queries slower than RATIO (default 1.3) by more
      than 0.3 s.

A profile's heap is the default driver heap of its Bench and Verify runs;
SPARK_DRIVER_MEM overrides it. SPARK_GRAFT_CPUS passes through. Every
subcommand exits nonzero on a failed run, a FAIL, an unreviewed
over-ceiling query or a broken row contract.

OUT's triage labels an over-ceiling query with one of:
  fixed        was super-linear and re-planned; listed even when under the
               ceiling, so that a regression past it is loud
  output_bound the answer grows super-linearly on this lake; the wall is
               sub-output-linear
  by_contract  the operator's contract is super-linear (exact ground truth,
               an exact similarity join on a densifying fixture, an n^1.5
               graph build)
  unreviewed   not in the table: triage it before committing the artifact
Row contracts: "==0" means the query is expected empty on the lake, ">0"
that it must produce output. A contract query that errored, or is missing
from the run's rows map, fails the build as well.
"""
import itertools
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TABLE = json.loads((ROOT / "scripts" / "lakes.json").read_text())
PROFILES = TABLE["profiles"]


def profile(name):
    """A profile with its `like` parent's sets and exclusions resolved."""
    p = dict(PROFILES[name])
    if "like" in p:
        parent = PROFILES[p["like"]]
        for leg in ("verify", "bench"):
            p[leg] = [q for q in parent[leg] if q not in p["excluded"]]
        p["excluded"] = {**parent["excluded"], **p["excluded"]}
    return p


def lake(target):
    """A profile's lake (relative to the repo root, where every main runs),
    a path, or a lake name under /root/testdata."""
    if target in PROFILES:
        return PROFILES[target]["lake"]
    return os.path.abspath(target) if "/" in target else f"/root/testdata/{target}"


def env_for(heap=None, **extra):
    env = dict(os.environ, **extra)
    if heap and "SPARK_DRIVER_MEM" not in os.environ:
        env["SPARK_DRIVER_MEM"] = heap
    return env


def sbt(main, args, env, log):
    """Run one main under sbt with its output in `log`; tail it on failure."""
    with open(log, "w") as f:
        rc = subprocess.run(["sbt", "-batch", " ".join([f"runMain graft.{main}", *args])],
                            env=env, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        print("".join(open(log).readlines()[-20:]), end="")
    return rc == 0


def gen(names):
    for name in names:
        g, out = PROFILES[name]["gen"], lake(name)
        print(f"=== generating {out} ({'skewed' if g['skew'] else 'flat'}, k={g['k']}) ===")
        args = [g["source"], out, str(g["k"])] + (["skew"] if g["skew"] else [])
        if not sbt("GenSf", args, env_for(), f"/tmp/lakes_gen_{name}.log"):
            return 1
    return 0


def verify_one(sf, out, queries, env):
    """Verify + check.py on one lake; check.py's lines go through whole,
    so a FAIL line keeps the detail lines that say why."""
    shutil.rmtree(out, ignore_errors=True)
    if not sbt("Verify", [sf, out, *queries], env, f"{out}.log"):
        print(f"FAIL {sf}: graft.Verify exited nonzero")
        return False
    return subprocess.run([sys.executable, str(ROOT / "scripts" / "check.py"),
                           sf, out, *queries], cwd=ROOT).returncode == 0


def verify(args):
    cpus = [None]
    if args[:1] == ["--cpus"]:
        cpus = list(itertools.takewhile(str.isdigit, args[1:]))
        args = args[1 + len(cpus):]
    if not args or not cpus:
        sys.exit(__doc__)
    ok = True
    for target in args:
        sf = lake(target)
        p = profile(target) if target in PROFILES else {"verify": [], "heap": None}
        for n in cpus:
            tag = Path(sf).name + (f"_c{n}" if n else "")
            extra = {"SPARK_GRAFT_CPUS": n} if n else {}
            print(f"=== verify {sf} ({' '.join(p['verify']) or 'full suite'})"
                  f"{f' cpus={n}' if n else ''} ===")
            ok &= verify_one(sf, f"/tmp/lakes_verify_{tag}", p["verify"],
                             env_for(p["heap"], **extra))
    print(f"verify: {'OK' if ok else 'FAIL'}")
    return 0 if ok else 1


def settle():
    """Wait up to 12 min for the 1-min load (<1.5) and the 5-min load (<3.0)
    to decay: each leg ends at full tilt, and a leg launched on the previous
    one's tail read 2.3x a clean run while its 1-min load looked settled."""
    waited = 0
    while waited < 720:
        load1, load5 = map(float, open("/proc/loadavg").read().split()[:2])
        if load1 <= 1.5 and load5 <= 3.0:
            return
        time.sleep(15)
        waited += 15


def run_bench(sf, out, queries, env):
    """One graft.Bench run; prints its stdout line and [bench] lines."""
    settle()
    load = open("/proc/loadavg").read().split()[0]
    print(f"=== bench {sf} {' '.join(queries) or '(full)'} "
          f"[{time.strftime('%H:%M:%S', time.gmtime())} load={load}] ===")
    proc = subprocess.Popen(["sbt", "-batch", " ".join(["runMain graft.Bench", *queries])],
                            env=dict(env, SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_BENCH_OUT=out),
                            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    for line in proc.stdout:
        if re.search(r'"metric"|\[bench\]', line):
            print(line, end="")
    proc.wait()
    if not (os.path.exists(out) and os.path.getsize(out) > 0):
        sys.exit(f"bench: {sf} wrote no artifact {out}")


def build(name, base_path, lake_path, out):
    """The profile's artifact from a baseline and a lake Bench artifact."""
    p = profile(name)
    ceiling, triage_map, contracts = p["ceiling"], p["triage"], p["rows"]
    a, b = json.load(open(base_path)), json.load(open(lake_path))
    qa, qb = a["queries"], b["queries"]
    # vacuity contracts first: a wall-time artifact built over a silently
    # empty answer is worse than no artifact
    vacuity_failures = []
    rows = b.get("rows")
    if contracts and rows is None:
        vacuity_failures.append(
            f"profile {name} declares row contracts but the bench run "
            f"carries no rows map — rerun with a rows-emitting Bench")
    errors = b.get("errors") or {}
    for q, contract in contracts.items():
        if q in errors:
            vacuity_failures.append(
                f"{q}: errored in the bench run ({errors[q]}) — contract "
                f"'{contract}' unverifiable")
        elif rows is None:
            continue
        elif q not in rows:
            vacuity_failures.append(
                f"{q}: absent from the bench rows map — dropped from the "
                f"run set? contract '{contract}' unverified")
        elif not (rows[q] == 0 if contract == "==0" else rows[q] > 0):
            vacuity_failures.append(
                f"{q}: rows={rows[q]} violates '{contract}' on profile {name}")
    common = sorted(set(qa) & set(qb))
    ratios = {q: round(qb[q] / max(qa[q], 1e-3), 2) for q in common}
    flagged = {q: r for q, r in ratios.items() if r > ceiling}

    def entry(q, label):
        e = {"ratio": ratios[q], "baseline_sec": round(qa[q], 3),
             "sec": round(qb[q], 3), "label": label}
        return dict(e, reason=triage_map[q]["why"]) if q in triage_map else e
    triage = {q: entry(q, triage_map.get(q, {"label": "unreviewed"})["label"])
              for q in sorted(flagged, key=lambda q: -flagged[q])}
    unreviewed = [q for q, e in triage.items() if e["label"] == "unreviewed"]
    for q, t in triage_map.items():
        if t["label"] == "fixed" and q in common and q not in triage:
            triage[q] = entry(q, "fixed")
    artifact = {
        "metric": "total", "unit": "sec", "profile": name,
        "ceiling": ceiling,
        "sf": b.get("sf"), "baseline_sf": a.get("sf"),
        "value": round(sum(qb.values()), 1),
        "baseline_value": round(sum(qa[q] for q in common), 1),
        "wall_ratio": round(
            sum(qb[q] for q in common) / max(sum(qa[q] for q in common), 1e-3), 2),
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
    print(f"wrote {out} [{name}]: total {artifact['value']}s vs baseline "
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


def bench(args):
    name, out = args[0], os.path.abspath(args[1])
    if args[2:3] == ["--from"]:
        return build(name, args[3], args[4], out)
    p = profile(name)
    tmp = tempfile.mkdtemp(prefix=f"lakes_bench_{name}_")
    print(f"raw Bench artifacts (with each query's profile): {tmp}")
    env = env_for(p["heap"])
    run_bench(lake(p["baseline"]), f"{tmp}/base.json", p["bench"], env)
    run_bench(lake(name), f"{tmp}/lake.json", p["bench"], env)
    return build(name, f"{tmp}/base.json", f"{tmp}/lake.json", out)


def heap(heaps):
    h = TABLE["heavy"]
    sf, queries, heaps = lake(h["profile"]), h["queries"], heaps or h["heaps"]
    tmp = tempfile.mkdtemp(prefix="lakes_heap_")
    keys = ("memory_spilled_bytes", "disk_spilled_bytes", "peak_exec_bytes")
    for mem in heaps:
        out = f"{tmp}/heap_{mem}.json"
        run_bench(sf, out, queries,
                  dict(os.environ, SPARK_DRIVER_MEM=mem, SPARK_GRAFT_BENCH_RETRIES="0"))
        art = json.load(open(out))
        for q, p in art["profile"].items():
            print(json.dumps({"query": q, **{k: p[k] for k in keys}}))
        print(json.dumps({"total": {
            "heap_mb": art["env"]["heap_mb"], "queries": len(art["profile"]),
            "failed": len(art.get("errors", {})),
            **{k: sum(p[k] for p in art["profile"].values()) for k in keys[:2]}}}))
    print(f"=== hash-verify at {heaps[0]} ===")
    env = dict(os.environ, SPARK_DRIVER_MEM=heaps[0])
    return 0 if verify_one(sf, f"{tmp}/verify", queries, env) else 1


def walls(path):
    """Per-query walls of a Bench artifact, a log tail holding its stdout
    line, or a {"tail": ...} wrapper around such a tail; a truncated line
    yields the "name":secs pairs that survived."""
    txt = open(path).read()
    try:
        wrapper = json.loads(txt)
        if isinstance(wrapper, dict) and "tail" in wrapper:
            txt = wrapper["tail"]
    except json.JSONDecodeError:
        pass
    m = txt
    for line in txt.splitlines():
        if '"metric"' in line and '"queries"' in line:
            m = line[line.index('{"metric"'):]
    try:
        return json.loads(m)["queries"]
    except json.JSONDecodeError:
        pairs = re.findall(r'"([A-Za-z0-9_]+)":([0-9.]+)', m)
        return {k: float(v) for k, v in pairs if k != "value"}


def compare(args):
    old, new = walls(args[0]), walls(args[1])
    thresh = float(args[2]) if len(args) > 2 else 1.3
    # by name first, so that equal ratios print in one order on every run
    common = sorted(sorted(set(old) & set(new)), key=lambda q: new[q] / max(old[q], 1e-9),
                    reverse=True)
    regressions = 0
    for q in common:
        r = new[q] / max(old[q], 1e-9)
        flag = ""
        if r > thresh and new[q] - old[q] > 0.3:
            flag = "  <-- REGRESSION"
            regressions += 1
        print(f"{q:38s} {old[q]:7.2f} -> {new[q]:7.2f}  ({r:5.2f}x){flag}")
    print(f"\ncommon {len(common)}: total {sum(old[q] for q in common):.1f} -> "
          f"{sum(new[q] for q in common):.1f} s; "
          f"only-old: {sorted(set(old)-set(new))}; "
          f"only-new: {sorted(set(new)-set(old))}")
    return 1 if regressions else 0


# each subcommand with the check its arguments must pass
COMMANDS = {
    "gen": (gen, lambda a: a and set(a) <= set(PROFILES)),
    "verify": (verify, lambda a: a),
    "bench": (bench, lambda a: len(a) in (2, 5) and a[0] in PROFILES),
    "heap": (heap, lambda a: True),
    "compare": (compare, lambda a: len(a) in (2, 3)),
}

if __name__ == "__main__":
    cmd, rest = (sys.argv[1], sys.argv[2:]) if len(sys.argv) > 1 else (None, [])
    if cmd not in COMMANDS or not COMMANDS[cmd][1](rest):
        sys.exit(__doc__)
    sys.stdout.reconfigure(line_buffering=True)
    sys.exit(COMMANDS[cmd][0](rest))
