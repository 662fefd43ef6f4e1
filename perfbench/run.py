#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: catalog-build, catalog-nightly, corpus-dedup.

The harness (perfbench/src) is compiled together with the engine sources
(src/main/scala) by the sbt build in perfbench/, once per source state;
the classpath is cached under perfbench/target. Each run then starts one
JVM with a fresh work directory under perfbench/.work.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
WORKLOADS = ["catalog-build", "catalog-nightly", "corpus-dedup"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True)
                   + glob.glob(os.path.join(BENCH, "src", "main", "**", "*.scala"),
                               recursive=True)
                   + [os.path.join(BENCH, "build.sbt"),
                      os.path.join(BENCH, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile harness + engine with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"engine sources not found under {ROOT}/src/main/scala; nothing to build")
        sys.exit(2)
    stamp = source_stamp()
    stamp_file = CLASSPATH + ".stamp"
    if os.path.exists(CLASSPATH) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    log("building harness and engine (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        log(f"build failed (exit {proc.returncode})")
        sys.exit(3)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def git_head():
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10)
        if head.returncode != 0:
            return "unknown (not a git checkout)"
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               cwd=ROOT, text=True, capture_output=True, timeout=10)
        return head.stdout.strip() + ("+dirty" if dirty.stdout.strip() else "")
    except (OSError, subprocess.SubprocessError):
        return "unknown (no git)"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    t_start = time.time()
    cp = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    artifact = os.path.join(run_dir, "artifact.json")
    heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
    # -XX:-UsePerfData: no hsperfdata file outside the work directory
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", run_dir, "--out", out,
              "--artifact", artifact, "--git-head", git_head()])
    # a terminated run takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(6))
    with open(os.path.join(run_dir, "jvm.log"), "w") as jl:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jl, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; killed")
            sys.exit(4)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as jl:
            sys.stderr.write(jl.read()[-4000:])
        log(f"benchmark JVM failed (exit {code})")
        sys.exit(5)
    with open(out) as fh:
        res = json.load(fh)

    with open(artifact) as fh:
        art = json.load(fh)
    art["run_wall_s"] = time.time() - t_start
    # the kept artifact names paths relative to the checkout
    text = json.dumps(art, indent=1, sort_keys=True).replace(ROOT + "/", "")
    with open(os.path.join(WORK, f"last-{a.workload}-trace{a.trace}.json"), "w") as fh:
        fh.write(text)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
