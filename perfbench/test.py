#!/usr/bin/env python3
"""Runs the benchmark's self-tests: `python3 perfbench/test.py` from the
repository root. Builds like run.py, then runs `perfbench.SelfTest` in a
scratch dir under `.bench_work/` and exits with its status."""
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    root = os.getcwd()
    classes = build.build(root)
    work = os.path.join(root, ".bench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(root), "*")])
    try:
        return subprocess.run(
            ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in run.ADD_OPENS] +
            ["-Xmx2g", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.SelfTest", work],
            cwd=work, timeout=600).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
