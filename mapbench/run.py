#!/usr/bin/env python3
"""Mapping-engine benchmark: build the engine and the benchmark from source,
then run one workload and print its result as the last stdout line.

    python3 mapbench/run.py --workload corr_monthly --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds with sbt (the engine
is compiled from the checkout's own sources) and caches the classpath under
$CARGO_TARGET_DIR (default .bench_build), keyed by a digest of every source
file; later runs start the JVM directly.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = "mapbench"
JOB_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"mapbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", f"{HERE}/build.sbt", f"{HERE}/project", f"{HERE}/src/main"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f)
            for d, dirs, files in os.walk(root)
            if "target" not in d.split(os.sep) and os.sep + "project" + os.sep + "project" not in d + os.sep
            for f in files)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def classpath(build_dir):
    """The runtime classpath of the benchmark, building it when the sources changed."""
    cp_file = os.path.join(build_dir, f"classpath-{source_digest()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"]
    try:
        res = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = [l.strip() for l in res.stdout.splitlines()]
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if res.returncode != 0 or not cps:
        sys.stderr.write(res.stdout[-4000:])
        fail("build failed", 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        fail("run from the root of a checkout: the engine sources (build.sbt, src/main/scala/graft) are missing")

    build_dir = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), HERE)
    cp = classpath(build_dir)
    work = os.path.abspath(os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    trace_out = os.path.abspath(os.path.join(build_dir, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.abspath(os.path.join(HERE, "log4j2.properties"))]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "mapbench.Main", "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    if a.trace == "1":
        java += ["--trace-out", trace_out]

    proc = subprocess.Popen(java, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    watchdog = threading.Timer(JOB_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            print(line, end="", flush=True)
            if line.strip():
                last = line.strip()
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark exited with {proc.returncode}", 1)
    if not last.startswith("{"):
        fail("benchmark printed no result", 1)


if __name__ == "__main__":
    main()
