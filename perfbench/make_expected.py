#!/usr/bin/env python3
"""Regenerate expected.json: the result of every timed query of the query
workloads, computed by DuckDB from the query's `SparkEntry.oracleSql` over
the generated sf0.1 tables, stored as an order-preserving digest plus row
count (run.py's canonical form). Run it from the repository root after
changing a query list, the table generator or an oracle:

    python3 perfbench/make_expected.py [workload ...]

Entries of workloads not named are kept from the existing file.

It builds the harness to read the oracle SQL, so it needs the same
toolchain as run.py. DuckDB's MinHash and similarity replays take minutes,
which is why the results are committed instead of derived per run.
"""
import json
import os
import subprocess
import sys
import time

import duckdb

import gen_data
import run


def main():
    root = os.getcwd()
    cp = run.build(root)
    digests = {}
    for sf in (0.1, 0.001):
        d = os.path.join(run.WORK, "data", f"sf{sf}")
        digests[str(sf)] = gen_data.generate(d, sf)
    workloads = sys.argv[1:] or ["curate", "stream_replay"]
    names = [n for w in workloads for n in run.QUERIES[w]]
    os.makedirs(run.WORK, exist_ok=True)
    sql_file = os.path.join(run.WORK, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "perfbench.Harness", "--dump-oracle", sql_file, ",".join(names)],
                   check=True)
    with open(sql_file) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    data = os.path.join(run.WORK, "data", "sf0.1")
    for t in gen_data.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = {}
    if os.path.exists(run.EXPECTED_FILE):
        with open(run.EXPECTED_FILE) as f:
            out = json.load(f)["queries"]
    for n in names:
        if not oracles.get(n):
            sys.exit(f"{n} has no oracle SQL; it cannot be in a timed list")
        print(f"{n} ...", end=" ", flush=True)
        t0 = time.time()
        digest, rows = run.canon_hash(con.sql(oracles[n]))
        out[n] = {"hash": digest, "rows": rows}
        print(f"{rows} rows in {time.time() - t0:.1f} s", flush=True)
    with open(run.EXPECTED_FILE, "w") as f:
        json.dump({"data_digest": digests, "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
