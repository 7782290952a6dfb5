"""Seeded synthetic star schema for the suite_mix workload.

Writes the ten parquet tables `SparkEntry.queries` read (region nation
customer supplier part orders lineitem events documents embeddings),
with the schemas and value ranges of the repo's sf0.1 test data at
about a fifth of its size. Usage: gen_suite.py <out_dir> [seed]
"""
import os
import sys

import duckdb
import numpy as np
import pandas as pd

WORDS = ("query row stream the spark line small fast group customer batch sort value "
         "hash filter big data dup part column order scan a slow agg key window table "
         "merge vector join").split()


def tables(seed: int, scale: float = 0.02) -> dict:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_line = int(1500000 * scale), int(6000000 * scale)
    n_ev, n_doc, n_emb = int(1000000 * scale), int(50000 * scale), int(20000 * scale)
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["large", "hot", "blue", "small", "red", "cold", "green", "tiny"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lok = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": lok.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": (day0 + rng.integers(1, 2499, n_line).astype("timedelta64[D]")).astype("datetime64[us]")})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(50, n_ev // 66), n_ev).astype(np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, int(n))) for n in rng.integers(8, 96, n_doc)]
    # planted near duplicates: a copy with one word changed
    for i in rng.choice(n_doc, max(2, n_doc // 200), replace=False):
        j = int(rng.integers(0, n_doc))
        w = texts[j].split(" ")
        w[int(rng.integers(0, len(w)))] = str(rng.choice(WORDS))
        texts[i] = " ".join(w)
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.12, (10, 64))
    emb = (centers[labels] + rng.normal(0.0, 0.1, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": labels.astype(np.int32)})
    return t


def main() -> None:
    out = sys.argv[1]
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    for name, df in tables(seed).items():
        con.register("t", df)
        sel = ("SELECT * REPLACE (CAST(embedding AS FLOAT[]) AS embedding) FROM t"
               if name == "embeddings" else "SELECT * FROM t")
        con.execute(f"COPY ({sel}) TO '{tmp}/{name}.parquet' (FORMAT PARQUET)")
        con.unregister("t")
    os.replace(tmp, out)


if __name__ == "__main__":
    main()
