#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark client (perfbench/harness/src) with the Scala compiler that ships
among the Spark jars, into .bench_build/classes. The jars are the ones the
project's build.sbt names as `unmanagedBase`. A stamp of the source
contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py      (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
SOURCE_DIRS = ["src/main/scala", "perfbench/harness/src"]


def sources():
    found = []
    for d in SOURCE_DIRS:
        found += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory of build.sbt (`unmanagedBase := file(...)`)."""
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.exists(sbt) else None
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    """Compile if needed; returns the runtime classpath."""
    for d in SOURCE_DIRS:
        if not os.path.isdir(os.path.join(ROOT, d)):
            raise SystemExit(f"build: missing source directory {d}")
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    print(f"build: compiling {len(files)} Scala files", file=log, flush=True)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-cp", jars] + files
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(want)
    return classpath()


if __name__ == "__main__":
    print(build())
