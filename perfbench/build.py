"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the benchmark's own sources (perfbench/src) into .bench_build/classes,
using the Scala compiler that ships with Spark. Rebuilds only when a source
file or the compiler changed.

Usage: python3 perfbench/build.py        (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    import pyspark  # noqa: PLC0415 - only needed without SPARK_HOME
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def classpath():
    return os.path.join(spark_jars(), "*") + os.pathsep + CLASSES


def sources():
    files = []
    for root in SOURCES:
        if not os.path.isdir(root):
            raise SystemExit(f"build: source directory {root} is missing")
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(spark_jars(), "scala-*.jar"))):
        h.update(f.encode())
        if f.endswith(".scala"):
            h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"build: scalac failed with code {rc}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()
