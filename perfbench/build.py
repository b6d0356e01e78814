#!/usr/bin/env python3
"""Builds the engine and the benchmark harness from source.

    python3 perfbench/build.py [--out DIR]

Compiles the engine (`src/main/scala`) and the harness (`perfbench/src`)
with the Scala compiler that ships in Spark's jar directory ($SPARK_HOME,
or the installation `spark-submit` on the PATH belongs to), against the
same jars `build.sbt` uses. Classes land
in DIR/classes (default: $CARGO_TARGET_DIR or .bench_build, then
`perfbench`). A stamp of the sources' hashes skips the compile when
nothing changed. Run from the repository root.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def default_out():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars():
    """$SPARK_HOME/jars, or else the jars of the first Spark installation
    whose `bin/spark-submit` is on the PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-2.13.*.jar")):
            return jars
    sys.exit("perfbench: no Spark installation with a Scala compiler (set SPARK_HOME)")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"perfbench: source directory {d} is missing")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(out):
    """Compiles if needed; returns the classpath to run with."""
    jars = spark_jars()
    classes = os.path.join(os.path.abspath(out), "classes")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(os.path.abspath(out), "classes.stamp")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(os.path.abspath(out), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = os.pathsep.join(glob.glob(os.path.join(jars, f"scala-{p}-2.13.*.jar"))[0]
                               for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--out", default=default_out())
    print(build(ap.parse_args().out))


if __name__ == "__main__":
    main()
