#!/usr/bin/env python3
"""Benchmark of graft's HTTP JSON -> SQL path.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program from source with sbt (once per
source tree; later runs reuse the build), then runs one workload in one JVM
and relays its output. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Workloads and metrics are
listed in BENCHMARK.json and described in perfbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

# the module flags spark-submit would pass on JDK 17 (as in build.sbt)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the installation that `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME")
    return home


def build(spark):
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark)
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx3g"]))
    print("perfbench: building", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"],
                       cwd=HERE, env=env, stdout=sys.stderr, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def driver_heap():
    """Spark driver heap as ROADMAP.md's tier-1 verify command sets it: half of RAM,
    clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala/graft")
    spark = spark_home()
    build(spark)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{driver_heap()}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}:{spark}/jars/*", "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--out", OUT]
    t0 = time.monotonic()
    try:
        r = subprocess.run(cmd, cwd=ROOT, timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_LIMIT_S} s")
    if r.returncode != 0:
        fail(f"benchmark exited with {r.returncode} after {time.monotonic() - t0:.1f} s")


if __name__ == "__main__":
    main()
