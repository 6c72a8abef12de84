#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library sources
(`src/main/scala`) together with the benchmark's own Scala sources
(`etlbench/src`) into `etlbench/.build/classes`, with the Scala compiler
that ships in the Spark distribution's jar directory.

A build is skipped when a stamp of every source file's content matches
the last successful build. Run from the repository root:

    python3 etlbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    """The Spark jar directory: the repository build's `unmanagedBase`,
    else `$SPARK_HOME/jars`, else the one beside `spark-submit`."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    home = os.environ.get("SPARK_HOME") or (
        shutil.which("spark-submit") and
        os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit")))))
    for d in ([m.group(1)] if m else []) + ([os.path.join(home, "jars")] if home else []):
        if os.path.isdir(d):
            return d
    raise SystemExit("build: no Spark jar directory found")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                           recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                           recursive=True))
    if not lib:
        raise SystemExit("build: no library sources under src/main/scala")
    return lib + own


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compile if needed; returns the seconds spent compiling (0 if cached)."""
    files = sources()
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return 0.0
    t0 = time.time()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: scalac failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return time.time() - t0


if __name__ == "__main__":
    print(f"built in {build():.1f} s")
