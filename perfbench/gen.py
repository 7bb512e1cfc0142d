"""Seeded generator for the corpus the analytics and index_lifecycle
workloads read.

It writes the ten tables the query registry loads (`graft.Tables`), one
parquet file each with a single row group, at the shape of the sf0.1
tables the registry is specified on: TPC-H-like star schema, an events
stream and a document/embedding corpus. Column names, types and value
domains follow FIXTURES.md section B. The seed selects every value;
sizes are fixed, so two seeds give inputs of the same size and shape.

Usage: python3 perfbench/gen.py <out_dir> <seed> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# sf0.1 row counts; `scale` multiplies the scalable ones
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.15, 0.145]
EMBED_DIM = 64


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _cents(x):
    return np.round(x, 2)


def _days(rng, start, end, n):
    """Midnight timestamps (microseconds) uniform over [start, end]."""
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(np.int64) + 1
    d = lo + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def tables(seed, scale=1.0, only=None):
    """The tables (all, or those named in `only`) as pyarrow Tables, a
    pure function of (seed, scale). Each table draws from a random
    stream of its own, so its values do not depend on `only`."""
    n = {k: max(1, int(round(v * scale))) for k, v in BASE_ROWS.items()}
    want = set(TABLES if only is None else only)
    out = {}
    for name in TABLES:
        if name in want:
            rng = np.random.default_rng([seed, TABLES.index(name)])
            out[name] = _TABLE[name](rng, n)
    return out


def _region(rng, n):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})


def _nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def _customer(rng, n):
    c = n["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, c))),
        "c_mktsegment": _pick(rng, SEGMENTS, c)})


def _supplier(rng, n):
    s = n["supplier"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, s)))})


def _part(rng, n):
    p = n["part"]
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    return pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": _pick(rng, names, p),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _pick(rng, PTYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1))})


def _orders(rng, n):
    o = n["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], o), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": pa.array(_cents(rng.uniform(1000.0, 500000.0, o))),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": _pick(rng, PRIORITIES, o)})


def _lineitem(rng, n):
    li = n["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng.uniform(900.0, 105000.0, li))),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li)})


def _events(rng, n):
    e = n["events"]
    # sorted arrival times over 30 days; distinct microseconds keep
    # (user_id, ts) unique, which the dedup queries assume
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 10**6
    ts = np.sort(rng.choice(span, e, replace=False)) + t0
    return pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": pa.array(_cents(np.minimum(rng.exponential(50.0, e), 560.0))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
                          pa.string())})


def _embeddings(rng, n):
    v = n["embeddings"]
    x = rng.standard_normal((v, EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), pa.int32())})


def _documents(rng, n):
    """Bag-of-words documents, 10-100 words over a 30-word vocabulary.
    About 5% are near-duplicates (an earlier document plus the token
    `dup`) and 0.2% exact copies, so the dedup paths find pairs."""
    d = n["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, d)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    kind = rng.random(d)
    for i in range(1, d):
        if kind[i] < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, d, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(d)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


_TABLE = {"region": _region, "nation": _nation, "customer": _customer,
          "supplier": _supplier, "part": _part, "orders": _orders,
          "lineitem": _lineitem, "events": _events, "documents": _documents,
          "embeddings": _embeddings}


def write(out_dir, seed, scale=1.0, only=None):
    """Write the tables (all, or those named in `only`) as
    `<out_dir>/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed, scale, only).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows), compression="snappy")
        counts[name] = t.num_rows
    return counts


if __name__ == "__main__":
    out, seed = sys.argv[1], int(sys.argv[2])
    scale = float(sys.argv[3]) if len(sys.argv) > 3 else 1.0
    print(write(out, seed, scale))
