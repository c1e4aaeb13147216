#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 layerbench/run.py --workload read --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. The first run builds the harness and
the engine from source with sbt, offline, into .bench_build/; later runs
reuse the build while the sources are unchanged. Each run gets its own
scratch directory under .bench_build/runs/, used as Spark's local and temp
directory and deleted when the run ends.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE = ROOT / "src" / "main" / "scala" / "graft"
BUILD = ROOT / ".bench_build" / "layerbench"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so nothing started here outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None


def source_stamp():
    h = hashlib.sha256()
    files = sorted(list(ENGINE.parent.rglob("*.scala")) +
                   list((BENCH / "src").rglob("*.scala")) +
                   [BENCH / "build.sbt", BENCH / "project" / "build.properties"])
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when the sources changed."""
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    want = source_stamp()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == want:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={BUILD / 'sbt-global'}",
           "compile", "export Runtime/fullClasspath"]
    code, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if code != 0:
        sys.stderr.write(out or "")
        fail("build failed" if code is not None else "build timed out", 2)
    cp = out.strip().splitlines()[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(want)
    return cp


def heap():
    """-Xmx as the repo's tier-1 tests size it: half of RAM, 2 to 8 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def valid(result, trace):
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        return False
    if not isinstance(result["correct"], bool):
        return False
    if not all(isinstance(result[k], int) for k in ("attempted", "failed")) or result["attempted"] < 1:
        return False
    want = expected_metrics(trace)
    got = result["metrics"]
    return (isinstance(got, dict) and set(got) == set(want) and all(
        isinstance(v, dict) and v.get("unit") == want[k] and
        isinstance(v.get("value"), (int, float)) and math.isfinite(v["value"])
        for k, v in got.items()))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    if not ENGINE.is_dir():
        fail(f"engine sources not found at {ENGINE}; run from a checkout of the repository", 2)
    if a.seconds < 1:
        fail("--seconds must be at least 1", 2)
    cp = classpath()
    scratch = ROOT / ".bench_build" / "runs" / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={scratch / 'tmp'}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "layerbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--lake", str(BENCH / "lake"),
        "--scratch", str(scratch), "--digests", str(BENCH / "digests.json")]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=scratch,
                              stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s and was killed", 3)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"harness exited with code {code}", 3)
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        result = None
    if not valid(result, a.trace == 1):
        fail(f"harness printed no valid result line: {lines[-1][:300]}", 4)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
