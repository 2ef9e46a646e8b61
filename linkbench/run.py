#!/usr/bin/env python3
"""End-to-end linkage benchmark for graft.

    python3 linkbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 linkbench/run.py --selftest

Run from the repository root. The first call builds the engine and the
benchmark from source with sbt (offline); later calls reuse the build while
the sources are unchanged. The benchmark JVM generates the seeded inputs,
times the runs, checks every output and prints one JSON result as the last
line of standard output. See linkbench/README.md.
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
WORK = os.path.join(BENCH, ".work")
LAUNCH = os.path.join(BENCH, "target", "linkbench.launch")
STAMP = LAUNCH + ".stamp"

# Files whose content decides the build: the engine's build and sources,
# and the benchmark's own.
BUILD_INPUTS = [
    (ROOT, ["build.sbt", "project/build.properties", "project/plugins.sbt"], ["src/main", "project"]),
    (BENCH, ["build.sbt", "project/build.properties"], ["src/main"]),
]

RUN_LIMIT_S = 175  # a run must end within 180 s of its start


def log(msg):
    print(f"[linkbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for base, files, dirs in BUILD_INPUTS:
        paths = [os.path.join(base, f) for f in files]
        for d in dirs:
            for dirpath, dirnames, filenames in os.walk(os.path.join(base, d)):
                dirnames[:] = sorted(n for n in dirnames if n != "target")
                paths += [os.path.join(dirpath, f) for f in filenames
                          if f.endswith((".scala", ".sbt", ".properties", ".java"))
                          or "META-INF" in dirpath]
        for p in sorted(set(paths)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt(args, timeout):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true"] + args
    return subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr,
                          stderr=sys.stderr, timeout=timeout).returncode


def build():
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return stamp
    log("building engine and benchmark with sbt")
    t0 = time.time()
    if sbt(["launcher"], timeout=850) != 0 or not os.path.exists(LAUNCH):
        raise SystemExit("[linkbench] build failed")
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")
    log(f"build took {time.time() - t0:.0f} s")
    return stamp


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def validate(line):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests (tiny shapes, corrupted outputs)")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"engine source missing: {os.path.join(ROOT, need)}")
            return 2
    if a.selftest:
        return sbt(["test"], timeout=1800)

    stamp = build()
    started = time.time()
    with open(LAUNCH) as f:
        jvm = [l for l in f.read().splitlines() if l]
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java", f"-Djava.io.tmpdir={tmp}"] + jvm +
           ["graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK,
            "--source", f"{stamp[:16]}/git:{git_commit()[:12]}"])
    # Spark would take its scratch directories from SPARK_LOCAL_DIRS over
    # the session conf; the benchmark keeps them inside its work directory.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    try:
        proc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                              text=True, timeout=RUN_LIMIT_S - (time.time() - started))
    except subprocess.TimeoutExpired:
        log(f"benchmark JVM exceeded {RUN_LIMIT_S} s and was killed")
        return 1
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        log(f"benchmark JVM failed with exit code {proc.returncode}")
        return proc.returncode or 1
    try:
        validate(lines[-1])
    except ValueError as e:
        sys.stderr.write(proc.stdout)
        log(f"malformed result line: {e}")
        return 1
    sys.stdout.write("\n".join(lines) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
