#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <cdc_replay|curate_daily>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the checkout root. Builds the program and the benchmark from
source (see build.py), then runs one workload in one JVM on `local[4]`
with its own work directory under `.bench_work/`, which holds the
generated inputs, the Spark scratch space and the three store roots
(`SPARK_GRAFT_{SIG,PQ,CDC}_STORE`), so no run reads another's stores.
The last stdout line is the JSON result. With `--trace 1` the spans of
the run are kept in `.bench_work/spans-<workload>-<seed>.jsonl`.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("cdc_replay", "curate_daily")
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    root = os.getcwd()
    classes = build.build(root)

    work = os.path.join(root, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    for name in ("SIG", "PQ", "CDC"):
        env[f"SPARK_GRAFT_{name}_STORE"] = os.path.join(work, "stores", name.lower())
    env["TMPDIR"] = os.path.join(work, "tmp")
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(root), "*")])
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-Xmn256m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={env['TMPDIR']}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--fixture", os.path.join(HERE, "fixture")])
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"perfbench: timed out after {TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            shutil.copy(spans, os.path.join(root, ".bench_work",
                                            f"spans-{a.workload}-{a.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if p.returncode != 0 or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out.replace('{"correct"', '{"incomplete"'))
        print(f"perfbench: JVM exited {p.returncode} without a result", file=sys.stderr)
        return p.returncode or 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
