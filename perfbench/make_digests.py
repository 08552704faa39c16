#!/usr/bin/env python3
"""Regenerates `perfbench/fixture/digests.tsv`, the reference digests the
`curate_daily` workload checks every output against.

    python3 perfbench/make_digests.py     # from the repository root

It writes every checked key's output over the fixture with
`perfbench.Dump`, then compares each output with the DuckDB oracle
(`SparkEntry.oracleSql`) with `tools/check.py`'s normalisation, and writes the digests
only if the oracle reproduces every output. A disagreement stops the
script: the program is wrong and no reference digest is written. At the
fixture's scale (sf0.01) every oracle runs; the slowest is the recursive
connected-components CTE behind `q_pipeline_curate_rank`, a few minutes
in DuckDB, which at sf0.1 does not finish (tools/check.py's header).
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

KEYS = ["q_pipeline_curate_rank", "q_pipeline_curate", "q_sim_ann_ivfpq_stored"]
TABLES = ["documents", "embeddings"]


def main():
    root = os.getcwd()
    classes = build.build(root)
    fixture = os.path.join(HERE, "fixture")
    out = os.path.join(root, ".bench_work", "digests")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    env = dict(os.environ)
    for name in ("SIG", "PQ", "CDC"):
        env[f"SPARK_GRAFT_{name}_STORE"] = os.path.join(out, "stores", name.lower())
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(root), "*")])
    subprocess.run(["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in run.ADD_OPENS] +
                   ["-Xmx3g", f"-Djava.io.tmpdir={out}/tmp", "-cp", cp, "perfbench.Dump",
                    fixture, out] + KEYS, check=True, env=env, cwd=out)
    sys.path.insert(0, os.path.join(root, "tools"))
    import check  # noqa: E402  (the repository's oracle compare)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    bad = []
    for k in KEYS:
        got = check.norm(con.sql(f"SELECT * FROM read_parquet('{out}/{k}/*.parquet')").df())
        want = check.norm(con.sql(oracle[k]).df())
        same = list(got.columns) == list(want.columns) and got.shape == want.shape and all(
            ((got[c] == want[c]) | (got[c].isna() & want[c].isna())).all() for c in got.columns)
        print(("PASS " if same else "FAIL ") + k)
        if not same:
            bad.append(k)
    if bad:
        raise SystemExit(f"oracle disagrees on {bad}; no digests written")
    digests = dict(l.split("\t") for l in open(os.path.join(out, "digests.tsv")).read().split("\n") if l)
    with open(os.path.join(fixture, "digests.tsv"), "w") as f:
        f.write("# key\tdigest\tsource (oracle: the DuckDB oracle reproduced the output)\n")
        for k in KEYS:
            f.write(f"{k}\t{digests[k]}\toracle\n")
    shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
