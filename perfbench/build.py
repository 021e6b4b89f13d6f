"""Builds graft and the benchmark harness from source with the Scala
compiler that ships in Spark's jar directory, into the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`). A build is reused while
the sources it was made from are unchanged.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build")))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def build():
    """Returns the classpath (classes dir plus Spark's jars), compiling
    first if this source tree has not been built yet."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: graft sources (src/main/scala/graft) not found")
    files = sorted(f for d in SOURCES for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    jars = spark_jars()
    out = os.path.join(build_dir(), "perfbench", "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, ".done")):
        for old in glob.glob(os.path.join(build_dir(), "perfbench", "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(out)
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", ":".join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
               "-d", out] + files
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            sys.exit("perfbench: compile failed")
        open(os.path.join(out, ".done"), "w").close()
    return ":".join([out] + jars)


if __name__ == "__main__":
    print(build().split(":")[0])
