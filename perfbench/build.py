#!/usr/bin/env python3
"""Compile graft and the benchmark runner into one classes directory.

Usage: python3 perfbench/build.py   (from the repository root)

The program sources (`src/main/scala`, `src/main/resources`) and the
runner sources (`perfbench/src`) are compiled together with the Scala
compiler that ships in the Spark distribution, so the build needs neither
sbt nor a dependency download. Output goes to `.bench_build/classes`; a
stamp over every input file's content skips the compile when nothing
changed. The compile writes to a temporary directory that is renamed into
place only on success, so an interrupted build never leaves a half-built
tree behind.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
PROGRAM_SRC = "src/main/scala"
PROGRAM_RES = "src/main/resources"
RUNNER_SRC = "perfbench/src"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars next
    to the first `bin/spark-submit` on PATH that has them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark distribution found; set SPARK_HOME")


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def _inputs():
    files = []
    for root in (PROGRAM_SRC, PROGRAM_RES, RUNNER_SRC):
        files += [p for p in glob.glob(f"{root}/**/*", recursive=True) if os.path.isfile(p)]
    return sorted(files + [os.path.abspath(__file__)])


def _stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def runner_digest():
    """Digest of the benchmark's own sources (the generators among them)."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(f"{RUNNER_SRC}/**/*", recursive=True)):
        if os.path.isfile(p):
            with open(p, "rb") as f:
                h.update(p.encode() + hashlib.sha256(f.read()).digest())
    return h.digest()


def ensure_built(log=sys.stderr):
    """Compile unless the stamp matches; returns the runtime classpath."""
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench: program sources not found under ./{PROGRAM_SRC}; "
                         "run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one compile at a time per checkout
        return _build(log)


def _build(log):
    files = _inputs()
    stamp = _stamp(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    sources = [p for p in files if p.endswith((".scala", ".java"))]
    print(f"perfbench: compiling {len(sources)} sources", file=log, flush=True)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-classpath", jars, "-nowarn", "-d", tmp] + sources
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    if os.path.isdir(PROGRAM_RES):
        shutil.copytree(PROGRAM_RES, tmp, dirs_exist_ok=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    print(ensure_built())
