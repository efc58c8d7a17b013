#!/usr/bin/env python3
"""The benchmark's input tables: graft's reference test tables, rebuilt.

graft is developed and oracle-checked against deterministic synthetic
tables (TESTDATA.md: a TPC-H-style star schema plus `events`, `documents`
and `embeddings`, seed 42, at sf0.001, sf0.01 and sf0.1). This script
makes the same tables from the same seed: the same random draws in the
same order, written the same way (pandas, snappy, one row group), so at
each of the three scales every file it writes is byte for byte the
reference file. The benchmark therefore runs on the data graft's
correctness record (CORRECTNESS_r*.json) and its full-suite timings
(BENCH_FULL.json) were taken on, not on an imitation of it.

The tables depend only on the scale factor and DATA_SEED, never on a
benchmark run's --seed: expected.json holds the DuckDB-derived result of
every timed query over exactly these bytes, and run.py refuses a data
directory whose digest differs from the one recorded there.

    python3 perfbench/gen_data.py <out_dir> <sf>
"""
import hashlib
import os
import sys

import numpy as np
import pandas as pd

DATA_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def days_between(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400).astype("datetime64[s]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n):
    return np.array(values)[rng.integers(0, len(values), n)]


def tables(sf):
    """The ten tables at scale factor `sf` as DataFrames, drawn in order
    from one generator."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {}
    out["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    out["nation"] = pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                                  "n_name": [f"NATION_{i}" for i in range(25)],
                                  "n_regionkey": np.arange(25, dtype=np.int32) % 5})
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = pick(rng, ADJ, n_part), pick(rng, NOUN, n_part)
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(rng, PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": days_between(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, n_li, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": pick(rng, ["R", "A", "N"], n_li),
        "l_linestatus": pick(rng, ["O", "F"], n_li),
        "l_shipdate": days_between(rng, n_li, "1995-01-02", "2001-11-04")})
    # 30 days of events at nanosecond resolution; the files keep microseconds
    offset_ns = (rng.uniform(0, 30 * 86_400, n_ev) * 1e9).astype("timedelta64[ns]")
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(np.datetime64("2024-01-01", "ns") + offset_ns),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # every document gets its own text first; then 5% of them, picked without
    # replacement, are overwritten in turn by another document's current text
    # plus a trailing token, so the near-dup operators have clusters (and a
    # few two-level chains) to find
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 100))]) for _ in range(n_doc)]
    dup_of = rng.choice(n_doc, n_doc // 20, replace=False)
    for i, j in zip(dup_of, rng.integers(0, n_doc, len(dup_of))):
        texts[i] = texts[j] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(rng, LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return out


def digest(out_dir):
    """sha256 over the table files, in table order."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(out_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def generate(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(sf).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        df.to_parquet(tmp, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    return digest(out_dir)


if __name__ == "__main__":
    print(generate(sys.argv[1], float(sys.argv[2])))
