"""Seeded generator for the benchmark's input tables.

Writes the ten tables the program reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet file
each, with the column names, physical types and value shapes of the TPC-H-ish
testdata the program is verified on. Row counts follow the testdata's scale
factor ratios. The same (sf, seed) always gives byte-identical tables.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["large", "hot", "blue", "old", "cold", "red"]
NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil"]
STATUS = ["O", "P", "F"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DIM = 64


def row_counts(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, lo, hi, n):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n) * 100).astype(np.int64) / 100.0


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    nc = n["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, npart),
                                               rng.choice(NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": (9000 + keys % 1000) / 10.0})
    no = n["orders"]
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(STATUS, no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(PRIORITY, no)})
    nl = n["lineitem"]
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)})
    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, ne))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, nc // 10), ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne) * 100) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(10, 100))))
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = n["embeddings"]
    v = rng.standard_normal((nv, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64), "embedding": list(v),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    return out


def write(sf, seed, out_dir):
    """Writes every table to `out_dir/<table>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables(sf, seed).items():
        t = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            t = t.cast(pa.schema([("vec_id", pa.int64()),
                                  ("embedding", pa.list_(pa.float32())),
                                  ("label", pa.int32())]))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
