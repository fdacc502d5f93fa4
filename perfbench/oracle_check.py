#!/usr/bin/env python3
"""Cross-checks the query workloads' results against DuckDB before their
digests are committed.

Usage (from the repository root):
    python3 perfbench/oracle_check.py [--write] [workload ...]

Runs every key of the named query workloads (default: all) once, writes
each result as parquet, and compares it with the key's
`SparkEntry.oracleSql` run in DuckDB over the same sf0.1 tables: columns
sorted by name, rows sorted, values compared exactly. Keys without an
oracle are listed as such. With --write, the digests of the keys that
pass (or have no oracle) go into expected_digests.json; a key that fails
the oracle is never written.
"""
import glob
import json
import math
import os
import shutil
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    return v


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], out


def compare(con, out_dir, name, sql):
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    sdf = con.sql(f"SELECT * FROM read_parquet({files!r})")
    scols, srows = norm(sdf.fetchall(), list(sdf.columns))
    odf = con.sql(sql)
    ocols, orows = norm(odf.fetchall(), list(odf.columns))
    if scols != ocols:
        return f"columns differ: spark={scols} oracle={ocols}"
    if len(srows) != len(orows):
        return f"row count spark={len(srows)} oracle={len(orows)}"
    bad = [(a, b) for a, b in zip(srows, orows) if a != b]
    if bad:
        return f"{len(bad)}/{len(srows)} rows differ; first spark={bad[0][0]} oracle={bad[0][1]}"
    return None


def main(argv):
    write = "--write" in argv
    names = [a for a in argv if a != "--write"] or list(run.WORKLOADS)
    keys = list(dict.fromkeys(k for w in names for k in run.workload_ops(w)))
    run.check_spark()
    run.check_data()
    run.build()
    out_dir = os.path.join(run.BUILD, "oracle")
    run_dir = os.path.join(run.BUILD, "runs", f"oracle-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    for d in ("tmp", "jtmp", "spark"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        cmd = run.private_tmp_prefix(os.path.join(run_dir, "tmp")) + \
            run.java_cmd(run_dir, "perfbench.Dump", run.DATA, out_dir, *keys)
        with open(os.path.join(run.BUILD, "oracle.log"), "w") as log:
            if subprocess.call(cmd, stdout=log, stderr=subprocess.STDOUT) != 0:
                sys.exit(f"[oracle_check] dump failed (log in {log.name})")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    digests = json.load(open(f"{out_dir}/digests.json"))
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.DATA}/{t}.parquet')")
    good, n_fail = {}, 0
    for k in keys:
        if k not in oracle:
            print(f"NO ORACLE {k} {digests[k]}")
            good[k] = digests[k]
            continue
        err = compare(con, out_dir, k, oracle[k])
        if err:
            print(f"FAIL {k}: {err}")
            n_fail += 1
        else:
            print(f"PASS {k} {digests[k]}")
            good[k] = digests[k]
    print(f"{len(good)} checked or without oracle, {n_fail} failed")
    if write:
        path = os.path.join(run.BENCH, "expected_digests.json")
        current = json.load(open(path)) if os.path.exists(path) else {}
        current.update(good)
        with open(path, "w") as fh:
            json.dump(dict(sorted(current.items())), fh, indent=1)
            fh.write("\n")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main(sys.argv[1:])
