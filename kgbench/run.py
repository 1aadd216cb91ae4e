#!/usr/bin/env python3
"""Benchmark of the KG pipeline.

Usage, from the repository root:

    python3 kgbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt (offline, into
kgbench/target) when the sources changed since the last build, then runs
one benchmark JVM on local[nproc]. The JVM's last stdout line is the
result object; this script passes it through as its own last line.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "kgbench.classpath")
STAMP = os.path.join(TARGET, "kgbench.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("bulk_build", "entity_resolve", "prompt_grid")
HEAP = "3g"
# a small young generation collects often, so the heap in use after a
# collection is sampled finely enough for heap_peak_mb to find the peak
YOUNG = "128m"
# JVM time beyond --seconds: start, three set-ups, the minimum of timed ops, checks
RUN_OVERHEAD_S = 160
BUILD_TIMEOUT_S = 720

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for base in (PROGRAM_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def spark_home():
    """$SPARK_HOME, else the first spark-submit on PATH that sits in a Spark installation."""
    candidates = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in candidates:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation found; set SPARK_HOME")


def build(digest):
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    home = os.path.expanduser("~")
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
           "-Dsbt.override.build.repos=true",
           f"-Dsbt.repository.config={home}/.sbt/repositories", "-Dsbt.offline=true",
           f"-Djava.io.tmpdir={tmp}", "compile", "writeClasspath"]
    code, _ = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr)
    if code != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {code})")
    with open(STAMP, "w") as f:
        f.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {os.path.relpath(PROGRAM_SRC)}; run from a full checkout")
    digest = sources_digest()
    build(digest)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(TARGET, "work")
    spans = os.path.join(TARGET, "trace", f"{a.workload}-seed{a.seed}.jsonl")
    java = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={TARGET}",
            "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "kgbench.Main", "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", a.trace, "--cores", str(cores),
             "--work", work, "--spans", spans, "--source", digest]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    code, out = run_bounded(java, RUN_OVERHEAD_S + a.seconds, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    lines = out.splitlines()
    results = [i for i, line in enumerate(lines) if line.startswith('{"correct"')]
    result = lines[results[-1]] if results else None
    for i, line in enumerate(lines):
        if not results or i != results[-1]:
            print(line)
    if code != 0 or result is None:
        fail(f"benchmark JVM exited with {code}" + ("" if result else " without a result"))
    print(result)


if __name__ == "__main__":
    main()
