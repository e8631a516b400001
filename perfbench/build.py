#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark program (perfbench/src) into one class directory with scalac.

Usage: python3 perfbench/build.py        (from the repository root)

The class directory lives under $CARGO_TARGET_DIR (default .bench_build).
A stamp over every source file skips the compile when nothing changed.
The only dependencies are the Spark distribution's jars ($SPARK_HOME/jars,
else the unmanagedBase of the repository's build.sbt), which also carry
the Scala compiler.
"""
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(BENCH, "src")]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        d = m.group(1) if m else ""
    if not os.path.isdir(d):
        raise SystemExit(f"build: no Spark jars at '{d}'")
    return sorted(os.path.join(d, f) for f in os.listdir(d)
                  if f.endswith(".jar"))


def sources():
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {d}")
    out = []
    for d in SOURCE_DIRS:
        for dp, _, fs in os.walk(d):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def classpath():
    """Runtime classpath: compiled classes plus the Spark jars."""
    return os.pathsep.join([os.path.join(build_dir(), "classes")]
                           + spark_jars())


def build(quiet=True):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    if os.path.isdir(out):
        subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath",
                           os.pathsep.join(jars)] + srcs) + "\n")
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp",
         os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    if not quiet:
        sys.stderr.write(r.stdout)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    print(build(quiet=False))
