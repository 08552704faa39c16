#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark
(`perfbench/src`) with the Scala 2.13 compiler that ships in Spark's jar
directory, into `.bench_build/perfbench/classes` under the checkout root.
A stamp over every source file's content skips the compile when nothing
changed. Run from the checkout root: `python3 perfbench/build.py`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA = "2.13.17"


def spark_jars(root):
    """Spark's jar directory: `$SPARK_HOME/jars`, else the program's own
    build setting (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench build: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        base = os.path.join(root, top)
        if not os.path.isdir(base):
            raise SystemExit(f"perfbench build: missing source dir {top}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Returns the classes dir, compiling when the sources changed."""
    out_dir = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out_dir, "classes")
    srcs = sources(root)
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out_dir, "stamp")
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars(root)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{p}-{SCALA}.jar")
                               for p in ("compiler", "library", "reflect"))
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, cwd=root)
    if r.returncode != 0:
        raise SystemExit(f"perfbench build: scalac exited {r.returncode}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
