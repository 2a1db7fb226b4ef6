#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the checkout. The first call builds the benchmark
(perfbench/build.sbt compiles the library's src/main/scala together with
the harness in perfbench/src) and caches the classpath under
perfbench/target; later calls rebuild only when a source file changed.
Each call then starts one JVM running `graft.bench.Main` on a local[4]
Spark session, and relays its result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The full record (session config, versions, spans) is kept in
.bench_build/records/. Everything the run writes stays inside the
checkout: scratch files go to .bench_build/ and are removed at exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("sim_replicate", "catalog_sf0.001")
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, in a stable order."""
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            if os.path.basename(d) == "target":
                continue
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(digest):
    """Compile once per source digest; return the runtime classpath."""
    stamp = os.path.join(BENCH, "target", "bench-classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    print("[perfbench] building", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, text=True,
        timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def java_opts(tmp):
    """JVM flags of every benchmark JVM; `tmp` becomes java.io.tmpdir."""
    os.makedirs(tmp, exist_ok=True)
    return ([x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-Xmx2g", f"-Djava.io.tmpdir={tmp}"])


def commit_id(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                             cwd=ROOT, capture_output=True, text=True, timeout=10)
        top, _, head = out.stdout.strip().partition("\n")
        if out.returncode == 0 and os.path.realpath(top) == os.path.realpath(ROOT):
            dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                                   capture_output=True, text=True, timeout=10)
            suffix = "+uncommitted" if dirty.stdout.strip() else ""
            return "git:" + head + suffix
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + digest[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(LIB_SRC):
        fail("library sources not found: run from the root of a full checkout")

    digest = source_digest()
    classpath = build(digest)

    scratch = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}")
    records = os.path.join(ROOT, ".bench_build", "records")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(records, exist_ok=True)
    record = os.path.join(
        records, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cmd = (["java"] + java_opts(tmp)
           + ["-cp", classpath, "graft.bench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--data", os.path.join(BENCH, "data", "sf0.001"),
              "--expected", os.path.join(BENCH, "expected_sf0.001.tsv"),
              "--out", record, "--commit", commit_id(digest)])
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(scratch, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark exited with {proc.returncode}")
    result = json.loads(lines[-1])
    print(f"[perfbench] {a.workload} seed {a.seed}: {time.time() - t0:.1f} s",
          file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
