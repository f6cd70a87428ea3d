#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

Run from the root of a checkout:

    python3 e2ebench/run.py --workload batch_pipeline --seed 1 --seconds 10 --trace 0

The first run builds the engine and the benchmark program from source
with sbt (offline) into e2ebench/target; later runs reuse that build
until a source file changes. The benchmark JVM runs one workload
and prints its metrics; the last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("batch_pipeline", "ann_serving")
# the benchmark JVM is killed after this many seconds (the build excluded)
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: engine sources and ours."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the classpath."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    if "SPARK_HOME" not in env:
        # build.sbt takes Spark's jars from SPARK_HOME: the first Spark
        # distribution (a bin/spark-submit beside a jars/ dir) on PATH
        for d in env.get("PATH", "").split(os.pathsep):
            home = os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit")))
            home = os.path.dirname(home)
            if os.path.isfile(os.path.join(d, "spark-submit")) and \
                    os.path.isdir(os.path.join(home, "jars")):
                env["SPARK_HOME"] = home
                break
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=840)
    sys.stderr.write(proc.stdout[-4000:])
    lines = [l for l in proc.stdout.splitlines()
             if not l.startswith("[") and "scala-library" in l]
    if proc.returncode != 0 or not lines:
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (no src/main/scala/graft here)")
    cp = build()
    deadline = time.time() + RUN_LIMIT_S

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    heap_gb = max(2, min(8, int(cpus)))  # 1 GiB per task slot
    work = os.path.join(TARGET, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = [
        "java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
        f"-Xmx{heap_gb}g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dgraft.scratch.dir={os.path.join(work, 'graft-tmp')}",
        "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--traces", os.path.join(TARGET, "traces"),
        "--expected", os.path.join(HERE, "expected.txt"),
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    proc = subprocess.Popen(java, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    watchdog = threading.Timer(max(1.0, deadline - time.time()), kill)
    watchdog.start()
    out = []
    try:
        for line in proc.stdout:
            out.append(line.rstrip("\n"))
            if not line.startswith("{"):
                print(line, end="", flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if timed_out.is_set():
        fail(f"run exceeded {RUN_LIMIT_S} s")
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    result = out[-1] if out else ""
    try:
        parsed = json.loads(result)
        assert set(parsed) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail("benchmark JVM printed no result line")
    print(result, flush=True)


if __name__ == "__main__":
    main()
