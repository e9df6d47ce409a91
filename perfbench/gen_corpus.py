"""Seeded corpus for the `reports` and `curation` workloads.

Writes the ten tables the engine's query registry reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one parquet file each, with the schemas and value
distributions of the engine's test corpora (TESTDATA.md): a TPC-H-like
star schema plus an events stream, and the LLM-data documents and
embeddings drawn the way `tools/gen_scale.py` draws fresh ones. Row
counts scale with `sf` (lineitem = 6M x sf). Same seed, same bytes.

`main(out_dir, seed, sf, n_docs)` writes the tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "the",
         "row", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DAY_US = 86_400_000_000


def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def star_schema(out, rng, sf):
    n_cust, n_supp = max(int(150_000 * sf), 50), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 100), max(int(1_500_000 * sf), 500)
    n_line, n_ev = max(int(6_000_000 * sf), 2000), max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 15)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))
    _write(out, "region", {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": i32(range(25)),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": i32([i % 5 for i in range(25)])})
    _write(out, "customer", {
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out, "part", {
        "p_partkey": i64(range(n_part)),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", order_days * DAY_US),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)]})
    okeys = rng.integers(0, n_ord, n_line)
    _write(out, "lineitem", {
        "l_orderkey": i64(okeys),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", (order_days[okeys] + rng.integers(0, 95, n_line))
                          .clip(0, 2498) * DAY_US)})
    ev_off = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out, "events", {
        "event_id": i64(range(n_ev)),
        "ts": _ts("2024-01-01", ev_off),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(49.6, n_ev), 2).clip(0.01, None),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def documents(out, rng, n):
    texts, langs, sources = [], [], []
    for i in range(n):
        # ~5% near-dup plants once a base pool exists
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, len(texts))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), size=int(rng.integers(8, 111)))
            texts.append(" ".join(VOCAB[w] for w in words))
        langs.append(LANGS[rng.choice(len(LANGS), p=LANG_P)])
        sources.append(f"src{int(rng.integers(0, 20))}")
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": langs, "source": sources,
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})


def embeddings(out, rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32))})


def main(out, seed, sf, n_docs):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    star_schema(out, rng, sf)
    documents(out, rng, n_docs)
    embeddings(out, rng, n_docs)
