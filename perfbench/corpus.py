"""Seeded generator of the query-suite corpus.

Writes the ten single-file parquet tables the query library reads
(`region nation customer supplier part orders lineitem events documents
embeddings`) with the same column names, physical types and value domains as
the repository's TPC-H-ish test corpus. Rows are drawn independently from a
`numpy` generator seeded with the workload seed, so the same seed always
yields byte-identical inputs and the program sees only generated data.

Run on its own: python3 perfbench/corpus.py <out_dir> <scale> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def _sizes(scale):
    """Row counts at `scale` (1.0 = the test corpus' sf1 proportions)."""
    return {
        "customer": int(150_000 * scale), "supplier": max(10, int(10_000 * scale)),
        "part": int(200_000 * scale), "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale), "events": int(1_000_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir, scale, seed):
    """Write every table under `out_dir`; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    n = _sizes(scale)
    os.makedirs(out_dir, exist_ok=True)
    ts = pa.timestamp("us")
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(rng.choice(ADJ, p), " "), rng.choice(NOUN, p)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": rng.choice(P_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, p) * 0.1, 2)})
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": pa.array(_days(rng, o, "1995-01-01", 2404), ts),
        "o_orderpriority": rng.choice(PRIORITIES, o)})
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": pa.array(_days(rng, li, "1995-01-02", 2499), ts)})
    e = n["events"]
    ev_ts = np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86_400_000_000, e).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(np.sort(ev_ts), ts),
        "user_id": pa.array(rng.integers(0, max(150, c // 10), e).astype(np.int64)),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d, dtype=np.int64)),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0.0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (m, 64))).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


if __name__ == "__main__":
    print(generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])))
