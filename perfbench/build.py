#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/classes with the Scala compiler that ships in Spark's jars,
and packs them into .bench_build/bench.jar. A rebuild deletes the JVM's
class-data archive (see run.py), which was made from the old jar.

Usage: python3 perfbench/build.py   (from the repository root)

The build is skipped when a stamp of every source file's content matches
the last successful build. Nothing is written outside .bench_build.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "bench.jar")
ARCHIVE = os.path.join(BUILD, "jvm.jsa")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("build: Spark jars not found (set SPARK_HOME)")
    d = os.path.join(home, "jars")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(os.path.join(ROOT, d)):
            sys.exit(f"build: missing source directory {d}")
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(srcs):
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([JAR] + spark_jars())


def build():
    srcs = sources()
    stamp = stamp_of(srcs)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        sys.exit("build: scala-compiler/library/reflect jars not found")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    for f in (STAMP, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("-nowarn\n-d\n" + CLASSES + "\n-classpath\n" + os.pathsep.join(jars) + "\n")
        f.write("\n".join(srcs) + "\n")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed with code {r.returncode}")
    # the class-data archive takes classes from jars only, not directories
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for base, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, CLASSES))
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
