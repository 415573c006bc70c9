"""Seeded generator of the ten inventory tables (region ... embeddings)
in the layout graft.Tables reads: one parquet file per table, named
<table>.parquet, with the reference test data's column types (timestamps
stored without a zone).

Row counts follow the reference data's per-scale-factor ratios (sf 0.001
= 6k lineitem rows); documents and embeddings have their own counts, as
the text and vector entries cost far more per row than the relational
ones. The same (seed, scale) gives the same tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
         "small", "slow", "merge", "order", "vector", "line", "table", "data",
         "agg", "value", "key", "stream", "window", "a", "spark", "part",
         "group", "big", "sort", "query", "fast", "the"]
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000
TS = pa.timestamp("us")


def counts(sf, documents, embeddings):
    return dict(customers=max(20, int(150_000 * sf)), suppliers=max(10, int(10_000 * sf)),
                parts=max(50, int(200_000 * sf)), orders=max(100, int(1_500_000 * sf)),
                events=max(200, int(1_000_000 * sf)), users=max(10, int(15_000 * sf)),
                documents=documents, embeddings=embeddings)


def tables(seed, sf, documents, embeddings):
    n = counts(sf, documents, embeddings)
    rng = np.random.default_rng(seed)

    def pick(values, size):
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), size)]

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customers"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                              "MACHINERY"], c)})
    s = n["suppliers"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, s)})
    p = n["parts"]
    names = [f"{a} {b}" for a in ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
             for b in ["bolt", "gear", "anvil", "ring", "widget", "nut", "pipe", "spring"]]
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": pick(names, p),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, p) / 10.0, 1)})
    o = n["orders"]
    order_day = rng.integers(0, 2404, o)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": pick(["F", "O", "P"], o),
        "o_totalprice": money(1000, 500_000, o),
        "o_orderdate": pa.array(EPOCH_1995_US + order_day * DAY_US, TS),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW"], o)})
    lines = rng.integers(1, 8, o)
    okey = np.repeat(np.arange(o, dtype=np.int64), lines)
    m = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, m).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, p, m).astype(np.int64),
        "l_suppkey": rng.integers(0, s, m).astype(np.int64),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + rng.integers(0, 1000, m) / 10.0)
                                    + rng.uniform(0, 1, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], m),
        "l_linestatus": pick(["O", "F"], m),
        "l_shipdate": pa.array(EPOCH_1995_US + (np.repeat(order_day, lines)
                                                + rng.integers(1, 122, m)) * DAY_US, TS)})
    e = n["events"]
    gap = 30 * DAY_US // e
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(EPOCH_2024_US + ((np.arange(e) + rng.uniform(0, 1, e)) * gap)
                       .astype(np.int64), TS),
        "user_id": rng.integers(0, n["users"], e).astype(np.int64),
        "event_type": pick(["click", "view", "purchase", "signup", "error"], e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    out["documents"] = documents_table(rng, documents)
    out["embeddings"] = embeddings_table(rng, seed, embeddings)
    return out


def documents_table(rng, n):
    """Text over the reference's 30-word vocabulary; the last 5% are
    near-duplicates of an earlier document with " dup" appended."""
    originals = max(1, int(n * 0.95))
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, 30, rng.integers(10, 100))])
             for _ in range(originals)]
    texts += [texts[i] + " dup" for i in rng.integers(0, originals, n - originals)]
    lang = np.where(rng.uniform(0, 1, n) < 0.44, "en",
                    np.asarray(["zh", "es", "de", "fr"])[rng.integers(0, 4, n)])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang.astype(object),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64)})


def embeddings_table(rng, seed, n, dim=64):
    """Unit vectors around ten label centres."""
    centres = np.random.default_rng(seed + 1).normal(0, 0.14, (10, dim))
    label = rng.integers(0, 10, n)
    v = centres[label] + rng.normal(0, 0.12, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype(np.int32)})


def write(dir_, seed, sf, documents, embeddings):
    os.makedirs(dir_, exist_ok=True)
    for name, t in tables(seed, sf, documents, embeddings).items():
        pq.write_table(t, os.path.join(dir_, f"{name}.parquet"))
