#!/usr/bin/env python3
"""Build file of the pipeline benchmark.

Compiles the library sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/scala`) into `.bench_build/classes`,
using the Scala compiler that ships in the Spark distribution's `jars/`
directory, so the build needs neither sbt nor a dependency download.

A stamp over every source file's path and content makes a second build
of unchanged sources a no-op.

    python3 perfbench/build.py      # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not os.path.isdir(jars):
        raise SystemExit("build: no Spark distribution found (set SPARK_HOME)")
    return jars


def classpath(jars):
    return os.pathsep.join(sorted(
        os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar")))


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, files in os.walk(d):
            out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def stamp_of(srcs, cp):
    h = hashlib.sha256(cp.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    cp = classpath(jars)
    srcs = sources()
    stamp = stamp_of(srcs, cp)
    runtime_cp = CLASSES + os.pathsep + cp
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return runtime_cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.monotonic()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-d", CLASSES, "-classpath", cp, "-nowarn", "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {proc.returncode}")
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"build: compiled {len(srcs)} files in {time.monotonic() - t0:.1f} s",
          file=sys.stderr)
    return runtime_cp


if __name__ == "__main__":
    build()
