"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's queries read (`<out>/<table>.parquet`,
the layout `graft.sources.Tables` loads) with the schemas and value domains
of the project's TPC-H-shaped test data. The same (seed, sf) always gives the
same rows.

    python3 perfbench/gen.py <outDir> <seed> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("value hash batch sort data big filter dup fast spark line small "
         "customer group row the query stream key agg scan slow table part a "
         "merge window order column join vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]


def _ts(rng, n, lo, hi, unit):
    """n timestamps uniform in [lo, hi), truncated to whole `unit`s."""
    lo, hi = np.datetime64(lo, unit), np.datetime64(hi, unit)
    off = rng.integers(0, (hi - lo).astype(np.int64), n)
    return (lo + off).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = 4 * n_ord, int(1_000_000 * sf)
    n_users, n_docs, n_emb = int(15_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i64 = lambda n: np.arange(n, dtype=np.int64)
    out = {}
    out["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    out["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5}
    out["customer"] = {
        "c_custkey": i64(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}
    out["supplier"] = {
        "s_suppkey": i64(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}
    out["part"] = {
        "p_partkey": i64(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part),
                                              rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (i64(n_part) % 1000) / 10, 1)}
    out["orders"] = {
        "o_orderkey": i64(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", "2001-08-02", "D"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}
    out["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(rng, n_line, "1995-01-02", "2001-11-05", "D")}
    out["events"] = {
        "event_id": i64(n_evt),
        "ts": np.sort(_ts(rng, n_evt, "2024-01-01", "2024-01-31", "us")),
        "user_id": rng.integers(0, n_users, n_evt, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 100, n_docs)]
    out["documents"] = {
        "doc_id": i64(n_docs),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=[.15, .55, .1, .1, .1]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": i64(n_emb),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32)}
    return out


def write(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables(seed, sf).items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
