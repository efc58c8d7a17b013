#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 scripts/check_oracle.py [--skip-missing] [--only a,b] <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs
the matching oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over
the raw tables in <sfDir>, and compares: schema (column names sorted),
row count, and cell values (sorted columns, exact equality; floats via
repr after float() coercion).
"""
import argparse, sys, os, json, glob
import duckdb

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = repr(round(v, 9))
            else:
                v = repr(v)
            vals.append(v)
        out.append(tuple(vals))
    return out

def main():
    ap = argparse.ArgumentParser(description="Compare graft.Verify outputs with their DuckDB oracles.")
    ap.add_argument("sf_dir", help="dir of the raw <table>.parquet inputs")
    ap.add_argument("out_dir", help="graft.Verify output dir (one parquet dir per query + oracle_sql.json)")
    ap.add_argument("--skip-missing", action="store_true",
                    help="a subset Verify run: skip queries with no output dir instead of failing them")
    ap.add_argument("--only", type=lambda v: set(v.split(",")), default=None,
                    help="a,b,c: check (and sweep rows-only) just these queries")
    a = ap.parse_args()
    sf_dir, out_dir, skip_missing, only = a.sf_dir, a.out_dir, a.skip_missing, a.only
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracles):
        if only is not None and name not in only:
            continue
        res_dir = f"{out_dir}/{name}"
        if not os.path.isdir(res_dir):
            if skip_missing:
                continue
            print(f"FAIL {name}: no spark output dir"); n_fail += 1; continue
        try:
            spark_rel = con.sql(f"SELECT * FROM read_parquet('{res_dir}/*.parquet')")
            s_cols = [c for c in spark_rel.columns]
            s_rows = spark_rel.fetchall()
            o_rel = con.sql(oracles[name])
            o_cols = [c for c in o_rel.columns]
            o_rows = o_rel.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: exec error: {ex}"); n_fail += 1; continue
        if sorted(s_cols) != sorted(o_cols):
            print(f"FAIL {name}: cols spark={sorted(s_cols)} oracle={sorted(o_cols)}")
            n_fail += 1; continue
        # Type-parity guard: the driver's hash is type-sensitive while the
        # repr-compare below is not. DuckDB widens windowed/plain integer
        # sums to HUGEINT, which Spark can never produce — hard-fail so the
        # class (q53/c26 in round 11) is caught locally before the driver.
        o_types = [str(t).upper() for t in o_rel.types]
        s_types = [str(t).upper() for t in spark_rel.types]
        if any("HUGEINT" in t for t in o_types):
            hcols = [c for c, t in zip(o_cols, o_types) if "HUGEINT" in t]
            print(f"FAIL {name}: oracle HUGEINT column(s) {hcols} — add CAST(... AS BIGINT)")
            n_fail += 1; continue
        # Wide-decimal guard (round 15): any DECIMAL wider than precision
        # 18 on EITHER side diverges under the driver's canon even when
        # the local compare is bit-exact (round-11 HUGEINT, round-14
        # q65/s37 DECIMAL(28,2)/(38,0)). Hard-fail so the class can't
        # recur: the portable surface is <= DECIMAL(18,x) or BIGINT.
        def wide_dec(types):
            out = []
            for c, t in types:
                if "DECIMAL" in t:
                    try:
                        prec = int(t.split("(")[1].split(",")[0])
                    except Exception:
                        prec = 99
                    if prec > 18:
                        out.append((c, t))
            return out
        wide = wide_dec(zip(o_cols, o_types)) + wide_dec(zip(s_cols, s_types))
        if wide:
            print(f"FAIL {name}: >18-precision decimal column(s) {wide} — "
                  f"driver canon diverges on wide decimals; CAST to DECIMAL(18,x) or BIGINT")
            n_fail += 1; continue
        # diff per NAME (dicts), not positionally over sorted (name, type)
        # pairs — tuples sort by (name, type), so a drifted type could
        # shift sort position and misattribute which column drifted.
        st_by, ot_by = dict(zip(s_cols, s_types)), dict(zip(o_cols, o_types))
        diff = [(c, st_by[c], ot_by[c]) for c in s_cols if st_by[c] != ot_by.get(c, st_by[c])]
        if diff:
            print(f"TYPEWARN {name}: spark vs oracle type drift {diff[:4]}")
        if len(s_rows) != len(o_rows):
            print(f"FAIL {name}: rows spark={len(s_rows)} oracle={len(o_rows)}")
            n_fail += 1; continue
        cs, co = canon(s_rows, s_cols), canon(o_rows, o_cols)
        if cs != co:
            bad = [(i, a, b) for i, (a, b) in enumerate(zip(cs, co)) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {bad}")
            n_fail += 1; continue
        print(f"PASS {name} ({len(s_rows)} rows)")
        n_pass += 1
    # queries without oracle: report rows-only
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(d.rstrip("/"))
        if only is not None and name not in only:
            continue
        if name not in oracles:
            n = con.sql(f"SELECT count(*) FROM read_parquet('{d}/*.parquet')").fetchone()[0]
            print(f"ROWS-ONLY {name}: {n} rows")
    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)

main()
