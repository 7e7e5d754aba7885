#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/classes, using the
Scala compiler that ships in the Spark jar directory named by the
repository's build.sbt (`unmanagedBase`), or $SPARK_HOME/jars. A
content stamp skips the compile when no source changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def jar_dir():
    """The Spark/Scala jar directory the program is built against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("build: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if needed; return (classes dir, jar dir)."""
    jars = jar_dir()
    files = sources()
    want = stamp(files, jars)
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return CLASSES, jars
    compiler = [j for pat in ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")
                for j in glob.glob(os.path.join(jars, pat))]
    if len(compiler) != 3:
        raise SystemExit(f"build: Scala compiler jars not found in {jars}")
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(tmp, CLASSES)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return CLASSES, jars


if __name__ == "__main__":
    print(build()[0])
