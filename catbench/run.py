#!/usr/bin/env python3
"""Builds the catalog benchmark and runs one workload in a fresh JVM.

Run from the root of a checkout:

    python3 catbench/run.py --workload catalog_refresh --seed 1 --seconds 20 --trace 0

The library sources under src/main/scala are compiled together with the
harness under catbench/src by the sbt build in catbench/. A build is
reused while the sources it was made from are unchanged. Each run gets
its own scratch directory under catbench/work, removed when it ends.
The last line of standard output is the JSON result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "catbench.classpath")
STAMP = os.path.join(TARGET, "catbench.stamp")
WORKLOADS = ("catalog_refresh", "analytic_mix")
# Every run has the same fixed heap and young generation, so GC behaves
# alike on both sides of a comparison and from one run to the next. The
# heap is not pre-touched, so the resident-set peak follows the pages the
# program has used.
HEAP = "3g"
YOUNG = "512m"
# A run must finish well inside the three minutes it is allowed.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"catbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    inputs = [LIB_SRC, os.path.join(HERE, "src", "main"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    print("catbench: building", file=sys.stderr)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # No sbt server, and temporary files under the build's own target.
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
         "compile", "writeClasspath"],
        cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL,
        timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, work):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    traces = os.path.join(HERE, "traces")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           f"-Djava.io.tmpdir={tmp}",
           "-XX:-UsePerfData", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "catbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--trace", str(args.trace), "--work", work,
            "--cores", str(cores()),
            "--spans", os.path.join(traces, f"{args.workload}.spans.jsonl")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{args.workload} did not finish in {RUN_TIMEOUT_S} s")
    if proc.returncode != 0:
        fail(f"{args.workload} exited with {proc.returncode}")
    lines = [l for l in out.decode().splitlines() if l.strip()]
    if not lines:
        fail("no result line")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {lines[-1]}")
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # Every run does a fixed number of operations, so both sides of a
    # comparison do the same work; the measured phase takes roughly this
    # long on four cores and the value is not used to bound it.
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(LIB_SRC):
        fail(f"library sources not found under {os.path.relpath(LIB_SRC, ROOT)}")
    build()
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        line = run_jvm(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line)


if __name__ == "__main__":
    main()
