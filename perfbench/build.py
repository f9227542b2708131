#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with
the Scala compiler that ships among the Spark jars.

    python3 perfbench/build.py        # from the repository root

Classes go to .bench_build/classes. A stamp of every source file's path
and content skips the compile when nothing changed.

`SparkEntry` keeps its query fixtures under a hard-coded absolute
directory named `fixtures`, outside the checkout when the checkout is
elsewhere. So that a run reads and writes only inside its checkout, the
build moves that directory to `.bench_tmp/fixtures` of the checkout: a
source file whose string literals name it is compiled from a copy under
`.bench_build/relocated/` with the directory replaced in those literals,
and nothing else in it changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
RELOCATED = os.path.join(BUILD, "relocated")
FIXTURES = os.path.join(ROOT, ".bench_tmp", "fixtures")
# an absolute `fixtures` directory at the start of a string literal:
# "<dir>/fixtures" or "<dir>/fixtures/<name>"
FIXTURES_IN_LITERAL = re.compile(r'"/[^"$\s]*/fixtures(?=[/"])')


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the `unmanagedBase` the
    repository's own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1)


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def relocate(src):
    """The file to compile for `src`: itself, or a copy with the fixtures
    directory moved into the checkout."""
    with open(src, encoding="utf-8") as f:
        text = f.read()
    moved = FIXTURES_IN_LITERAL.sub(lambda m: '"' + FIXTURES, text)
    if moved == text:
        return src
    out = os.path.join(RELOCATED, os.path.relpath(src, ROOT))
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w", encoding="utf-8") as f:
        f.write(moved)
    return out


def build(log=sys.stderr):
    """Compile if needed; returns True when the classes are current."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        print(f"no program sources at {os.path.relpath(SOURCE_DIRS[0], ROOT)}", file=log)
        return False
    srcs = sources()
    h = hashlib.sha256(FIXTURES.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return True
    shutil.rmtree(CLASSES, ignore_errors=True)
    shutil.rmtree(RELOCATED, ignore_errors=True)
    os.makedirs(CLASSES)
    srcs = [relocate(s) for s in srcs]
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss4m", "-Xmx3g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-cp", jars] + srcs
    r = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=log)
    if r.returncode != 0:
        print(f"compile failed with exit code {r.returncode}", file=log)
        return False
    with open(STAMP, "w") as f:
        f.write(stamp)
    return True


if __name__ == "__main__":
    sys.exit(0 if build() else 1)
