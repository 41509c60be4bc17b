#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload vector_index --seed 1 --seconds 22 --trace 0
    python3 perfbench/run.py --calibrate <corpus dir>

Builds the engine (src/main/scala) together with the harness
(perfbench/src) using the Scala compiler that ships with Spark, into
.bench_build/perfbench, then runs the harness in a fresh JVM on
local[nproc]. Each run gets its own work directory, which serves as
java.io.tmpdir, spark.local.dir and the warehouse, and is removed at exit.

The last line of stdout is {"correct", "attempted", "failed", "metrics"}.
The exit code is 0 only when every call and every output check passed.
The run record (loadavg, JIT and GC time, per-call wall times, ...) goes
to stderr on a line starting with PERFBENCH_RECORD; the JVM's own log
is kept in .bench_build/perfbench/logs.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The jars directory of $SPARK_HOME, else of the first Spark
    installation on PATH that ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
              if os.path.isfile(os.path.join(d, "spark-submit"))]
    for h in homes:
        if h and glob.glob(os.path.join(h, "jars", "scala-compiler-*.jar")):
            return os.path.join(h, "jars")
    return None


SPARK_JARS = spark_jars()
WORKLOADS = ("vector_index", "text_dedup")
CHILD_TIMEOUT_S = 170
CALIBRATE_TIMEOUT_S = 900
# -XX:-UsePerfData: the JVM would otherwise write hsperfdata under /tmp.
JVM = ["-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return files


def build():
    """Compiles engine + harness unless the same sources were built already."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(SPARK_JARS, "*")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed", 3)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    help="nominal timed length; the timed phase is one fixed unit sized to it")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test scale: tiny shards (--seconds may be 0)")
    ap.add_argument("--calibrate", metavar="CORPUS_DIR",
                    help="compare a corpus directory with a generated shard of its size")
    a = ap.parse_args()
    if a.calibrate is None:
        if a.workload is None or a.seconds is None:
            fail("--workload and --seconds are required")
        if a.seconds < 0 or (a.seconds == 0 and not a.tiny):
            fail("--seconds must be positive")

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}")
    if SPARK_JARS is None:
        fail("Spark jars with the Scala compiler not found: set SPARK_HOME")
    os.makedirs(BUILD, exist_ok=True)
    build()

    name = "calibrate" if a.calibrate else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(BUILD, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, os.path.basename(work) + ".log")
    cmd = (["java"] + JVM + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "--add-modules", "jdk.incubator.vector"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")]
           + (["graft.perfbench.Calibrate", os.path.abspath(a.calibrate), str(a.seed), work]
              if a.calibrate else
              ["graft.perfbench.PerfBench", a.workload, str(a.seed), str(a.trace), work]
              + (["tiny"] if a.tiny else [])))
    child = None
    limit = CALIBRATE_TIMEOUT_S if a.calibrate else CHILD_TIMEOUT_S

    def stop(*_):
        if child is not None and child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(130)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        with open(log_path, "w") as log:
            child = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                     start_new_session=True)
            try:
                out, _ = child.communicate(timeout=limit)
            except subprocess.TimeoutExpired:
                os.killpg(child.pid, signal.SIGKILL)
                child.wait()
                fail(f"timed out after {limit} s; log in {log_path}", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.calibrate:
        print(out, end="")
        sys.exit(child.returncode)
    with open(log_path) as fh:
        log_lines = fh.read().splitlines()
    for line in log_lines:
        if line.startswith("PERFBENCH_RECORD "):
            print(line, file=sys.stderr)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("\n".join(log_lines[-40:]) + "\n")
        fail(f"no result line (exit {child.returncode}); log in {log_path}", child.returncode or 5)
    print(json.dumps(result))
    if child.returncode != 0 or not result["correct"]:
        sys.exit(child.returncode or 1)


if __name__ == "__main__":
    main()
