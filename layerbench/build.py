#!/usr/bin/env python3
"""Build file of the layered benchmark.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own (`layerbench/src`) into `.bench_build/classes`, using
the Scala compiler that ships with Spark (`$SPARK_HOME/jars`, else the
`unmanagedBase` jar directory build.sbt names), so the build needs no
dependency resolution. The output is
keyed by a hash of every source file: an unchanged tree is not rebuilt.

Usage: python3 layerbench/build.py        (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
SOURCE_ROOTS = [os.path.join("src", "main", "scala"), os.path.join(os.path.basename(BENCH), "src")]


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def sources(root):
    out = []
    for base in SOURCE_ROOTS:
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(classes):
    return f"{classes}{os.pathsep}{os.path.join(spark_jars(), '*')}"


def ensure(root, build_dir):
    """Returns the classes directory for the sources under `root`."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, SOURCE_ROOTS[0])) for s in srcs):
        raise SystemExit(f"no engine sources under {os.path.join(root, SOURCE_ROOTS[0])}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-classpath", jars, "-d", tmp, "-nowarn"] + srcs
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    print(ensure(root, os.path.join(root, ".bench_build")))
