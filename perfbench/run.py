#!/usr/bin/env python3
"""Product-path benchmark of the extraction engine.

    python3 perfbench/run.py --workload extract-mix --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (first run only, cached
under .bench_build/ by a hash of the sources), then runs one workload in one
JVM. The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See perfbench/README.md.

Extra options: --pages N (input size) and --ref-seed S (build the reference
from another seed: a planted mismatch), for the benchmark's own tests;
--record prints the output digest lines of perfbench/digests.tsv for the
given seed (use the default seed, 20260816) instead of measuring.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(WORK, "sbt", "scala-2.13", "classes")
DIGESTS = os.path.join(HERE, "digests.tsv")
WORKLOADS = ("extract-mix", "extract-pdf", "curate-funnel")

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175
# A fixed heap and young generation. With G1's adaptive sizing, JVMs running
# the same passes settled on young generations that collected 4 to 11 times a
# pass, and pass times moved with it from run to run; at 768 MB a pass of the
# default input size collects once.
HEAP = "3g"
YOUNG = "768m"

# Spark 4 on JDK 17 outside spark-submit (the same list as the repo build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """SHA-256 over every source the build compiles, with its path."""
    h = hashlib.sha256()
    roots = [PROGRAM, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    sbt = shutil.which("sbt") or fail("sbt is not on PATH", 3)
    # keep sbt's own global state and temporary files inside the checkout
    env = dict(os.environ)
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""),
                                "-Dsbt.global.base=" + os.path.join(WORK, "sbt-global"),
                                "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")]).strip()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    try:
        r = subprocess.run([sbt, "-batch", "compile"], cwd=HERE, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S, env=env)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0:
        fail("build failed", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)", 3)
    return home


def git_head():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def jvm(args, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else (shutil.which("java") or fail("java is not on PATH", 3))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmp}", "-Djava.awt.headless=true",
        "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
        "graft.perfbench.PerfBench"] + args
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("benchmark JVM timed out", 4)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {p.returncode}", 4)
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int)
    ap.add_argument("--ref-seed", type=int)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM, os.getcwd())}", 2)
    stamp = source_stamp()
    build(stamp)
    deadline = time.monotonic() + RUN_TIMEOUT_S

    common = ["--workload", a.workload, "--seed", str(a.seed), "--work", WORK,
              "--digests", DIGESTS, "--code-stamp", stamp[:16], "--git-head", git_head()]
    if a.pages:
        common += ["--pages", str(a.pages)]
    if a.ref_seed is not None:
        common += ["--ref-seed", str(a.ref_seed)]

    if a.record:
        common += ["--mode", "record"]
    lines = jvm(common + ["--seconds", str(a.seconds), "--trace", str(a.trace)], deadline)
    for l in lines:
        print(l)

if __name__ == "__main__":
    main()
