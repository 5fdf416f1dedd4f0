#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the library sources
(`src/main/scala`) together with the benchmark harness
(`perfbench/src`) into `.bench_build/classes`, with the Scala compiler
and the jars of the Spark distribution (see `spark_jars_dir`) — the
same jars `build.sbt` compiles against.

The output is keyed by a digest of every source file, so an unchanged
checkout is not rebuilt.

Usage: python3 perfbench/build.py            (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars_dir():
    """`$SPARK_HOME/jars`, else the jars shipped in the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        import pyspark
        home = os.path.dirname(pyspark.__file__)
    return os.path.join(home, "jars")


def spark_jars():
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not jars:
        raise SystemExit(f"perfbench: no Spark jars under {spark_jars_dir()}")
    return jars


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        out += glob.glob(os.path.join(root, top, "**", "*.scala"), recursive=True)
    return sorted(out)


def build(root="."):
    """Compile if needed; return the runtime classpath entries."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("perfbench: no library sources under src/main/scala")
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode() + b"\0")
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\0".join(jars).encode())
    key = h.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp = out + ".stamp"
    classpath = [out, os.path.join(root, "src/main/resources"),
                 os.path.join(spark_jars_dir(), "*")]
    if os.path.isdir(out) and os.path.isfile(stamp) and open(stamp).read() == key:
        return classpath
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(root, BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", out] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(key)
    return classpath


if __name__ == "__main__":
    build(".")
    print("perfbench: build ok")
