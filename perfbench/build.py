#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) from source with the Scala compiler that ships in
the Spark distribution's jars, into .bench_build/perfbench/<digest>/classes.

A build is keyed by a digest of every source file and of the jar names, so an
unchanged tree reuses the previous build. Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


class BuildError(Exception):
    pass


def spark_jars_dir():
    """$SPARK_HOME/jars, else the unmanagedBase that the repository's
    build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    return ""


def spark_jars():
    jars_dir = spark_jars_dir()
    if not os.path.isdir(jars_dir):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir)
                  if j.endswith(".jar"))


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not found:
        raise BuildError("no Scala sources found")
    return sorted(found)


def digest(srcs, jars):
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()[:16]


def build():
    """Returns (classpath, digest); raises BuildError when the tree cannot build."""
    jars = spark_jars()
    srcs = sources()
    key = digest(srcs, jars)
    out = os.path.join(BUILD_DIR, key)
    classes = os.path.join(out, "classes")
    classpath = os.pathsep.join([classes] + jars)
    if os.path.exists(os.path.join(out, "OK")):
        return classpath, key
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("Scala compiler, library and reflect jars not found among the Spark jars")
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    tmp = os.path.join(BUILD_DIR, key + ".tmp")
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", os.path.join(tmp, "classes"), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    os.rename(tmp, out)
    with open(os.path.join(out, "OK"), "w") as f:
        f.write(key + "\n")
    return classpath, key


if __name__ == "__main__":
    try:
        _, key = build()
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(1)
    print(f"perfbench build: {key}")
