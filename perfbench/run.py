#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload sim-replay --seed 1 --seconds 15 --trace 0

Builds the program and the harness from source with sbt (once per source
state; the build is cached under .bench_build/), runs one closed-loop
harness JVM on local[4], and prints one JSON result object as the last line
of standard output. Everything else goes to standard error.

Other modes (tools, not part of a measured run):
    --selftest     check that the output checks catch corrupted results
    --calibrate    rewrite perfbench/data/catalog.tsv from the current code
"""
import argparse
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCHER = os.path.join(BUILD, "launcher.txt")
STAMP = os.path.join(BUILD, "launcher.stamp")
WORKLOADS = ("sim-replay", "catalog-sample")
BUILD_TIMEOUT_S = 700  # with a 175 s run, inside the first run's 900 s
RUN_LIMIT_S = 175
# A fixed heap and young generation: peak RSS then follows what the program
# retains instead of G1's adaptive sizing.
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's sources and build, and ours."""
    roots = [
        os.path.join(ROOT, "src", "main"),
        os.path.join(HERE, "src"),
    ]
    files = [
        os.path.join(ROOT, "build.sbt"),
        os.path.join(HERE, "build.sbt"),
        os.path.join(HERE, "project", "build.properties"),
    ]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compiles the program and the harness; returns (classpath, jvm options)."""
    stamp = fingerprint()
    if not (os.path.exists(LAUNCHER) and os.path.exists(STAMP)
            and open(STAMP).read() == stamp):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", " ".join([
            "-Dsbt.override.build.repos=true",
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
            "-Dsbt.offline=true", "-Xmx2g"]))
        env["PERFBENCH_LAUNCHER"] = LAUNCHER
        log("building program and harness with sbt")
        t0 = time.time()
        with open(os.path.join(BUILD, "build.log"), "w") as out:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLauncher"],
                           BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(LAUNCHER):
            with open(os.path.join(BUILD, "build.log")) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            raise SystemExit(f"build failed (sbt exit {rc})")
        with open(STAMP, "w") as fh:
            fh.write(stamp)
        log(f"built in {time.time() - t0:.1f} s")
    cp, opts = [], []
    for line in open(LAUNCHER).read().splitlines():
        kind, _, val = line.partition(" ")
        (cp if kind == "cp" else opts).append(val)
    return cp, [o for o in opts if not o.startswith("-Xmx")]


def java_env(work):
    """Keeps Spark's scratch space inside the run's work directory."""
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def java_cmd(cp, opts, work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [java, *HEAP, *opts, f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(cp),
            "perfbench.Main", *args]


def main():
    # A SIGTERM unwinds like Ctrl-C, so run_group stops the harness JVM too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--calibrate", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.calibrate):
        ap.error("one of --workload, --selftest, --calibrate is required")

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no graft sources next to {HERE}: run from a full checkout")
        return 2

    cp, opts = build()
    started = time.time()
    run_id = f"{os.getpid()}-{int(started * 1000)}"
    work = os.path.join(BUILD, "work", run_id)
    data = os.path.join(HERE, "data")
    os.makedirs(work, exist_ok=True)
    try:
        if a.selftest:
            return run_group(java_cmd(cp, opts, work, ["selftest", "--data", data, "--work", work]),
                             RUN_LIMIT_S, stdout=sys.stderr, stdin=subprocess.DEVNULL, env=java_env(work))
        if a.calibrate:
            out = os.path.join(data, "catalog.tsv")
            return run_group(java_cmd(cp, opts, work, [
                "calibrate", "--data", data, "--work", work, "--result", out]),
                None, stdout=sys.stderr, stdin=subprocess.DEVNULL, env=java_env(work))
        result = os.path.join(work, "result.json")
        args = ["run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--data", data, "--result", result,
                "--archive", os.path.join(BUILD, "runs")]
        try:
            rc = run_group(java_cmd(cp, opts, work, args), RUN_LIMIT_S,
                           stdout=sys.stderr, stdin=subprocess.DEVNULL, env=java_env(work))
        except subprocess.TimeoutExpired:
            log(f"harness exceeded {RUN_LIMIT_S} s and was stopped")
            return 1
        if rc != 0 or not os.path.exists(result):
            log(f"harness failed (exit {rc})")
            return 1
        with open(result) as fh:
            res = json.loads(fh.read())
        log(f"run took {time.time() - started:.1f} s")
        print(json.dumps(res), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
