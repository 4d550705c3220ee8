#!/usr/bin/env python3
"""Build graft with its benchmark harness, then run one seeded workload.

Run from the repository root:

    python3 perfbench/run.py --workload tables --seed 1 \
        --seconds 20 --trace 0

The last line of standard output is one JSON object (correct, attempted,
failed, metrics). The first run in a checkout compiles the repository's
sources together with perfbench/src (sbt, about a minute); later runs reuse
the build until a source file changes. Tables and Spark scratch space live
in perfbench/.work and are removed after each run; traced runs leave their
span tree in perfbench/out.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(BENCH, "out")
WORKLOADS = ("tables", "dedup_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these outside spark-submit (the same list the
# repository's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, as (path, size, mtime) for the stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    out = []
    for f in sorted(files):
        st = os.stat(f)
        out.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    return out


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out


def classpath():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this "
             "directory; run from the repository root")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    stamp = hashlib.sha256("\n".join(sources()).encode()).hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Compile/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, stdout=subprocess.PIPE,
        stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)
    sys.stderr.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "scala-2.13" not in lines[-1]:
        fail(f"build failed (sbt exit {code})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("--plant-fault", default="0", choices=("0", "1"),
                    help="shift one expected value; the check must fail")
    a = ap.parse_args()

    cp = classpath()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens",
                                                   f"{p}=ALL-UNNAMED")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    cmd += ["-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--size", a.size, "--plant-fault", a.plant_fault,
            "--work", WORK, "--out", OUT]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                              stdout=subprocess.PIPE, stderr=sys.stderr,
                              stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if code != 0 or result is None:
        sys.stderr.write(out)
        fail(f"benchmark exited {code} without a result")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
