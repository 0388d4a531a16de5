#!/usr/bin/env python3
"""Build the graft engine and its CDC benchmark from source, then run one
workload and print its metrics.

    python3 perfbench/run.py --workload extract_merge --seed 1 --seconds 15 --trace 0

Run from the repository root. The build (sbt, offline) happens only when a
source file changed since the last one; its classpath is cached under the
build directory (`$CARGO_TARGET_DIR`, default `.bench_build`). Each run
gets a fresh scratch directory there, removed afterwards unless --keep is
given. The last line of standard output is the result JSON; the full
artifact is copied to `<build dir>/results/`.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("extract_merge", "log_upsert_read")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
SBT_OFFLINE = ["-Dsbt.override.build.repos=true",
               "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
               "-Dsbt.offline=true"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Returns the runtime classpath, building first if sources changed.
    Concurrent runs take turns: one builds, the others wait and reuse it."""
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked(build_dir)


def build_locked(build_dir):
    stamp_file = os.path.join(build_dir, "classpath.json")
    stamp = fingerprint()
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=" ".join(SBT_OFFLINE + ["-Xmx2g"]))
    log_path = os.path.join(build_dir, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed; see " + log_path)
    classpath = lines[-1].strip()
    with open(stamp_file, "w") as fh:
        json.dump({"fingerprint": stamp, "classpath": classpath}, fh)
    return classpath


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cmd, run_dir):
    """Runs the benchmark JVM to completion (killing it on timeout)."""
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    return out, proc.returncode


def keep_artifacts(run_dir, build_dir, name):
    """Copies the run's artifact (stamped with the commit) and spans."""
    artifact = os.path.join(run_dir, "result.json")
    if not os.path.exists(artifact):
        return
    with open(artifact) as fh:
        full = json.load(fh)
    full["git_commit"] = git_commit()
    with open(os.path.join(build_dir, "results", name + ".json"), "w") as fh:
        json.dump(full, fh, indent=1)
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(build_dir, "results", name + ".spans.jsonl"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's scratch directory")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found under " + os.path.join(ROOT, "src"))
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
    classpath = build(build_dir)

    run_dir = os.path.join(build_dir, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    gc_threads = max(1, len(os.sched_getaffinity(0)) // 2)
    # C1 only leaves the code cache at its 48 MB non-tiered default, which
    # the engine and Spark fill mid-run; the flushing that follows evicts
    # hot methods, so give the compiled code room to stay
    cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m",
            "-XX:ParallelGCThreads=%d" % gc_threads,
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--dir", run_dir])
    try:
        out, code = run_jvm(cmd, run_dir)
        lines = out.splitlines()
        if code != 0 or not lines or not lines[-1].startswith("{"):
            sys.stdout.write(out[-4000:])
            fail("benchmark JVM exited with code %d" % code)
        result = json.loads(lines[-1])
        keep_artifacts(run_dir, build_dir, "%s-seed%d-trace%d" % (
            args.workload, args.seed, args.trace))
    finally:
        if not args.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
