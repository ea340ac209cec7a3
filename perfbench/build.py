#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala, plus
src/main/resources) together with the benchmark harness (perfbench/src) with
the Scala compiler shipped in the Spark distribution, into
.bench_build/classes-<digest>.  The digest covers every input, so a changed
source gets a fresh build and an unchanged one is reused.

Usage: python3 perfbench/build.py        (prints the classes directory)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SCALA = "2.13.17"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars of the
    first distribution whose bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isfile(os.path.join(home, "jars", f"scala-compiler-{SCALA}.jar")):
            return os.path.join(home, "jars")
    raise SystemExit(f"perfbench: no Spark distribution with scala-compiler-{SCALA}.jar "
                     "(set SPARK_HOME)")


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not files:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    if not harness:
        raise SystemExit("perfbench: no harness sources under perfbench/src")
    return files + harness


def resources():
    base = os.path.join(ROOT, "src/main/resources")
    return sorted(p for p in glob.glob(os.path.join(base, "**/*"), recursive=True)
                  if os.path.isfile(p)), base


def build():
    """Returns the classes directory, compiling first if needed."""
    jars = spark_jars()
    srcs = sources()
    res, res_base = resources()
    h = hashlib.sha256(SCALA.encode())
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = ":".join(os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                      for m in ("compiler", "library", "reflect"))
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as lf:
            rc = subprocess.call(
                ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
                 "scala.tools.nsc.Main",
                 "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + argfile],
                stdout=lf, stderr=subprocess.STDOUT)
        if rc != 0:
            with open(log) as lf:
                sys.stderr.write(lf.read()[-4000:])
            raise SystemExit(f"perfbench: compile failed (exit {rc}), see {log}")
        for p in res:
            dst = os.path.join(tmp, os.path.relpath(p, res_base))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        os.rename(tmp, out)
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
