#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the benchmark runner.

    python3 perfbench/build.py

Compiles the program's sources (src/main/scala) together with the runner
(perfbench/src/main/scala) into perfbench/.work/classes, with the Scala
compiler that ships in the Spark jar directory the project's build.sbt names.
No sbt, no dependency resolution and no files outside perfbench/.work; a
digest of the sources skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(WORK, "classes")
STAMP = os.path.join(WORK, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src", "main", "scala")]
TIMEOUT_S = 600


def spark_jars():
    """The Spark jar directory that the project's build.sbt names."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)


def sources():
    return sorted(os.path.join(d, f) for top in SOURCE_DIRS
                  for d, _, fs in os.walk(top) for f in fs if f.endswith(".scala"))


def source_hash(files):
    h = hashlib.sha256(spark_jars().encode())
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile unless the classes of the current sources are there; returns
    the class directory. Raises SystemExit when the build fails."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise SystemExit("perfbench: the program's sources (src/main/scala) are missing")
    files = sources()
    digest = source_hash(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return CLASSES
    jars = spark_jars()
    compiler = [os.path.join(jars, f"{n}.jar") for n in ("scala-compiler-*", "scala-library-*", "scala-reflect-*")]
    compiler = [next(iter(sorted(glob.glob(c))), c) for c in compiler]
    out = CLASSES + ".tmp"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    print(f"[perfbench] compiling {len(files)} Scala sources (scalac from {jars})",
          file=sys.stderr, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))] + files
    try:
        r = subprocess.run(cmd, cwd=BENCH, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: the compile did not finish within {TIMEOUT_S} s")
    if r.returncode != 0:
        raise SystemExit(f"perfbench: build failed (scalac exit {r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(out, CLASSES)
    with open(STAMP, "w") as f:
        f.write(digest)
    return CLASSES


if __name__ == "__main__":
    print(build())
