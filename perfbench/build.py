#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with the benchmark harness (perfbench/scala) into
.bench_build/perfbench.jar with the Scala compiler that ships in the Spark
distribution the program's own build uses ($SPARK_HOME/jars, else the
unmanagedBase directory named in build.sbt).

Usage: python3 perfbench/build.py      (from the root of a checkout)

A stamp over every source file's content skips the compile when nothing
changed, so only the first run in a checkout pays for it.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
JAR = os.path.join(BUILD_DIR, "perfbench.jar")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory the program's
    own build.sbt takes its unmanaged jars from."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = open(os.path.join(ROOT, "build.sbt")).read() if os.path.exists(os.path.join(ROOT, "build.sbt")) else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            raise BuildError("no Spark distribution: set SPARK_HOME")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        raise BuildError(f"no Spark distribution with a Scala compiler in {jar_dir}")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    files = []
    for base in (PROGRAM_SRC, HARNESS_SRC):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    if not any(f.startswith(PROGRAM_SRC) for f in files):
        raise BuildError(f"no Scala sources under {PROGRAM_SRC}")
    return sorted(files)


def stamp_of(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def classpath():
    """Runtime classpath: the compiled jar, then the Spark jars."""
    return os.pathsep.join([JAR] + spark_jars())


def build(log=sys.stderr):
    jars = spark_jars()
    files = sources()
    stamp = stamp_of(files, jars)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [
        "java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
        "-nowarn", "-deprecation:false", "-d", CLASSES, "-classpath", os.pathsep.join(jars),
        "@" + argfile,
    ]
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as jar:
        for dirpath, _, names in os.walk(CLASSES):
            for n in names:
                path = os.path.join(dirpath, n)
                jar.write(path, os.path.relpath(path, CLASSES))
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
