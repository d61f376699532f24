#!/usr/bin/env python3
"""Regenerate perfbench/expected_sf<sf>.json, the stored results query_mix
checks every op against.

Usage (from the repository root): python3 perfbench/record.py [--sf 0.01]

Runs every registered query twice on the benchmark corpus, in two JVMs with
different task parallelism (run.py --record). A query whose fingerprint is
the same in both is checked by fingerprint, one whose row count only agrees
is checked by row count, and any other is left out. Each oracle-bearing
query's result is also compared with DuckDB running SparkEntry.oracleSql on
the same corpus, canonicalized as tools/local_verify.py does; a query that
disagrees is left out. The excluded queries and their reasons are stored
with the results.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pandas as pd

# A query whose cold latency exceeds this stays out of query_mix: a run
# samples about two dozen queries in its window, and one such query would
# swing a run's throughput by more than the benchmark's bounds allow.
MAX_COLD_MS = 1500.0
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(ROOT, "tools"))
from local_verify import TABLES, canon, cell  # noqa: E402


def record(out, sf, cpus):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "query_mix",
           "--seed", "7", "--seconds", "0", "--sf", sf, "--record", out]
    if cpus:
        cmd += ["--cpus", str(cpus)]
    subprocess.run(cmd, check=True)
    with open(os.path.join(out, "spark.json")) as fh:
        return json.load(fh)


def oracle_diff(con, sql, result_dir):
    """None when Spark's result equals DuckDB's, else a short reason."""
    files = sorted(glob.glob(f"{result_dir}/*.parquet"))
    spark_df = canon(pd.concat([pd.read_parquet(f) for f in files]))
    duck_df = canon(con.sql(sql).df())
    if list(spark_df.columns) != list(duck_df.columns):
        return "columns differ"
    if len(spark_df) != len(duck_df):
        return f"rows {len(spark_df)} vs {len(duck_df)}"
    s_rows = [tuple(cell(v) for v in r) for r in spark_df.itertuples(index=False)]
    d_rows = [tuple(cell(v) for v in r) for r in duck_df.itertuples(index=False)]
    return None if s_rows == d_rows else "values differ"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.01")
    a = ap.parse_args()
    work = os.path.join(ROOT, ".bench_build", "record")
    first = record(os.path.join(work, "a"), a.sf, None)
    second = record(os.path.join(work, "b"), a.sf, 2)
    data = os.path.join(ROOT, ".bench_build", "data", f"sf{a.sf}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")

    queries, excluded = {}, {}
    for q, r in sorted(first["queries"].items()):
        r2 = second["queries"][q]
        reason = r.get("excluded") or r2.get("excluded")
        if reason is None and r["ref_ms"] > MAX_COLD_MS:
            reason = f"cold latency {r['ref_ms']:.0f} ms is over {MAX_COLD_MS:.0f} ms"
        if reason is None and r["rows"] != r2["rows"]:
            reason = "row count depends on parallelism"
        if reason is None and q in first["oracle"]:
            try:
                diff = oracle_diff(con, first["oracle"][q], os.path.join(work, "a", "results", q))
            except Exception as e:  # noqa: BLE001 - any oracle failure excludes
                diff = f"{type(e).__name__}"
            if diff:
                reason = f"differs from the DuckDB oracle on the benchmark corpus ({diff})"
        if reason:
            excluded[q] = reason
            continue
        queries[q] = {"rows": r["rows"], "hash": r["hash"],
                      "check": "hash" if r["hash"] == r2["hash"] else "rows",
                      "ref_ms": round(r["ref_ms"], 1),
                      "oracle": q in first["oracle"]}
    out = os.path.join(HERE, f"expected_sf{a.sf}.json")
    with open(out, "w") as fh:
        json.dump({"sf": float(a.sf), "queries": queries, "excluded": excluded},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")
    n_hash = sum(v["check"] == "hash" for v in queries.values())
    n_oracle = sum(v["oracle"] for v in queries.values())
    print(f"{len(queries)} queries ({n_hash} by fingerprint, {n_oracle} also "
          f"DuckDB-checked), {len(excluded)} excluded -> {out}")


if __name__ == "__main__":
    main()
