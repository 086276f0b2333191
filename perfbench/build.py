#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark (perfbench/src) from source into .bench_build/classes.

It runs offline with the Scala compiler the Spark distribution ships
(scala-compiler 2.13.17 in the Spark jars directory, the version build.sbt
pins), so it needs neither sbt nor a network, and it never reads sbt's
target/ output. A source hash stamp skips the compile when nothing
changed.

Usage: python3 perfbench/build.py
Env:   PERFBENCH_SPARK_JARS  Spark jars directory (default: build.sbt's
                             unmanagedBase)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """The Spark jars the sbt build compiles against."""
    if "PERFBENCH_SPARK_JARS" in os.environ:
        return os.environ["PERFBENCH_SPARK_JARS"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: no unmanagedBase in build.sbt; set PERFBENCH_SPARK_JARS")
    return m.group(1)


def scala_sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile when the sources changed; return the classpath to run with."""
    engine = scala_sources(os.path.join(ROOT, "src", "main", "scala"))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jars directory {jars} is missing")
    sources = engine + scala_sources(os.path.join(ROOT, "perfbench", "src"))
    h = hashlib.sha256()
    for f in sources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    classpath = f"{CLASSES}:{jars}/*"
    if os.path.isdir(CLASSES) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    t0 = os.times().elapsed
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", f"{jars}/*"] + sources
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: compiled {len(sources)} files in "
          f"{os.times().elapsed - t0:.0f} s", file=sys.stderr)
    return classpath


if __name__ == "__main__":
    build()
