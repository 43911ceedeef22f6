"""Build file of the benchmark: compiles the engine and the benchmark.

The engine sources (`src/main/scala`) and the benchmark sources
(`perfbench/src`) are compiled together with the Scala compiler that ships
in Spark's jar directory, into `.bench_build/classes` under the checkout
root. A stamp over every source file's path and bytes skips the compile
when nothing changed, so only the first run in a checkout pays for it.

    python3 perfbench/build.py          # build (no-op when up to date)
"""

import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def _sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {os.path.relpath(base, ROOT)}")
        for d, _, files in os.walk(base):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def _stamp(sources, jars):
    h = hashlib.sha256(jars.encode())
    for path in sources:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, engine resources, Spark jars."""
    return os.pathsep.join([CLASSES, ENGINE_RESOURCES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    jars = spark_jars()
    sources = _sources()
    stamp = _stamp(sources, jars)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    if os.path.isdir(CLASSES):
        shutil.rmtree(CLASSES)
    os.makedirs(CLASSES)
    jcp = os.path.join(jars, "*")
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    print(f"building {len(sources)} Scala sources into .bench_build/classes", file=log)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jcp, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jcp, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
