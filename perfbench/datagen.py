"""Deterministic TPC-H-ish input tables for the benchmark.

`generate(out, sf, seed=42)` writes the ten tables the SparkEntry queries
read (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings). At seed 42 it reproduces the repository's seed-42
test fixtures (TESTDATA.md) value for value at sf 0.001, 0.01 and 0.1: the
same row counts, schemas, key fan-outs, vocabulary, near-duplicate
documents and embeddings, drawn from one numpy PCG64 stream in the order
below. `test_perfbench.py` pins the content digest of every table at
sf 0.001 and 0.01 to the fixtures' digests.

It writes through a temporary directory and renames it into place, so an
interrupted run never leaves a half-written table set behind.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# category lists in the order the draws index them
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
WORDS = ["the", "a", "spark", "query", "table", "join", "group", "filter", "window",
         "data", "order", "customer", "part", "line", "fast", "slow", "big", "small",
         "hash", "sort", "merge", "scan", "agg", "stream", "batch", "vector", "key",
         "value", "row", "column"]

# rows at sf = 1
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
             "documents": 50_000, "embeddings": 20_000}
# documents and embeddings never go below this many rows
MIN_ROWS = {"documents": 500, "embeddings": 500}


def row_counts(sf):
    return {t: max(MIN_ROWS.get(t, 1), int(round(r * sf))) for t, r in BASE_ROWS.items()}


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _tables(sf, seed):
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i64 = lambda a: pa.array(a, pa.int64())
    i32 = lambda a: pa.array(a, pa.int32())
    f64 = lambda a: pa.array(a, pa.float64())
    ts = lambda a: pa.array(a, pa.timestamp("us"))
    out = {}
    out["region"] = pa.table({"r_regionkey": i32(np.arange(5)),
                              "r_name": pa.array(REGIONS, pa.string())})
    nk = np.arange(25)
    out["nation"] = pa.table({"n_nationkey": i32(nk),
                              "n_name": pa.array([f"NATION_{k}" for k in nk], pa.string()),
                              "n_regionkey": i32(nk % 5)})
    c = np.arange(n["customer"])
    out["customer"] = pa.table({
        "c_custkey": i64(c),
        "c_name": pa.array([f"Customer#{k:09d}" for k in c], pa.string()),
        "c_nationkey": i32(rng.integers(0, 25, len(c))),
        "c_acctbal": f64(_money(rng, -999.99, 9999.99, len(c))),
        "c_mktsegment": _pick(rng, SEGMENTS, len(c))})
    s = np.arange(n["supplier"])
    out["supplier"] = pa.table({
        "s_suppkey": i64(s),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in s], pa.string()),
        "s_nationkey": i32(rng.integers(0, 25, len(s))),
        "s_acctbal": f64(_money(rng, -999.99, 9999.99, len(s)))})
    p = np.arange(n["part"])
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, len(p))]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, len(p))]
    out["part"] = pa.table({
        "p_partkey": i64(p),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, len(p))], pa.string()),
        "p_type": _pick(rng, PART_TYPES, len(p)),
        "p_size": i32(rng.integers(1, 51, len(p))),
        "p_retailprice": f64(np.round(900.0 + (p % 1000) * 0.1, 1))})
    o = np.arange(n["orders"])
    out["orders"] = pa.table({
        "o_orderkey": i64(o),
        "o_custkey": i64(rng.integers(0, len(c), len(o))),
        "o_orderstatus": _pick(rng, ORDER_STATUS, len(o)),
        "o_totalprice": f64(_money(rng, 1000.0, 500000.0, len(o))),
        "o_orderdate": ts(_days(rng, len(o), "1995-01-01", 2405)),
        "o_orderpriority": _pick(rng, PRIORITIES, len(o))})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, len(o), nl)),
        "l_partkey": i64(rng.integers(0, len(p), nl)),
        "l_suppkey": i64(rng.integers(0, len(s), nl)),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": f64(rng.integers(1, 51, nl).astype(float)),
        "l_extendedprice": f64(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": f64(_money(rng, 0.0, 0.1, nl)),
        "l_tax": f64(_money(rng, 0.0, 0.08, nl)),
        "l_returnflag": _pick(rng, RETURN_FLAGS, nl),
        "l_linestatus": _pick(rng, LINE_STATUS, nl),
        "l_shipdate": ts(_days(rng, nl, "1995-01-02", 2499))})
    ne = n["events"]
    # seconds into a 30-day window, truncated to ns, then to us
    offs_ns = (np.sort(rng.uniform(0, 30 * 86400, ne)) * 1e9).astype(np.int64)
    out["events"] = pa.table({
        "event_id": i64(np.arange(ne)),
        "ts": ts(np.datetime64("2024-01-01", "us")
                 + (offs_ns // 1000).astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, max(1, ne * 15 // 1000), ne)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": f64(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string())})
    nd = n["documents"]
    words = np.asarray(WORDS, dtype=object)
    texts = []
    for _ in range(nd):
        m = rng.integers(10, 100)
        texts.append(" ".join(words[rng.integers(0, len(WORDS), m)]))
    # one document in 20 becomes a near-duplicate: another's text plus "dup"
    dups = nd // 20
    for d, src in zip(rng.choice(nd, dups, replace=False), rng.integers(0, nd, dups)):
        texts[d] = texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": i64(np.arange(nd)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, nd),
        "source": pa.array([f"src{k % 20}" for k in range(nd)], pa.string()),
        "n_chars": i64([len(t) for t in texts])})
    nv = n["embeddings"]
    v = rng.normal(size=(nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": i64(np.arange(nv)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, nv))})
    return out


def generate(out, sf, seed=42):
    """Write the ten tables at scale factor `sf` into directory `out`."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)
