#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources
(src/main/scala) together with the benchmark harness (perfbench/scala)
with the Scala compiler that ships in the Spark distribution, into
perfbench/.build/. A content hash of every source skips the compile
when nothing changed.

Usage: python3 perfbench/build.py        (from the repository root)
Prints the runtime classpath on success.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")
SCALA = "2.13.17"


def spark_jars() -> str:
    submit = shutil.which("spark-submit")
    for d in (os.environ.get("SPARK_JARS"),
              os.path.join(os.environ.get("SPARK_HOME", ""), "jars"),
              submit and os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars")):
        if d and os.path.isfile(os.path.join(d, f"scala-compiler-{SCALA}.jar")):
            return d
    raise SystemExit("build: no Spark jars with scala-compiler-"
                     f"{SCALA}.jar (set SPARK_JARS or SPARK_HOME, or put spark-submit on PATH)")


def sources() -> list:
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"build: graft sources not found at {main}")
    files = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(BENCH, "scala", "**", "*.scala"), recursive=True)
    return sorted(files)


def build() -> str:
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "stamp")
    cp = f"{classes}{os.pathsep}{jars}/*"
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return cp
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        os.path.join(jars, f"scala-{p}-{SCALA}.jar") for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{jars}/*", "-d", tmp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def source_digest() -> str:
    """Hash of the compiled sources (the commit stamp when git is absent)."""
    stamp = os.path.join(OUT, "stamp")
    return open(stamp).read()[:16] if os.path.isfile(stamp) else "unknown"


if __name__ == "__main__":
    print(build())
