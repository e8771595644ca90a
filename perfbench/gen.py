"""Seeded input generator for the benchmark.

Writes the ten tables the catalog reads (`graft.Tables.names`) as one
parquet file each, with the schemas and value distributions of the
engine's synthetic test data (FIXTURES.md, part B): a TPC-H-style star
schema, an event stream, a document corpus with ~5% near-duplicates
(a copy of another document plus a trailing " dup" token) and unit-norm
64-d embeddings. The same (seed, scale, text_scale, replicas) always gives
the same data. `scale` sizes the relational and event tables like the
test data's scale factor (0.01: 60,000 lineitem rows), `text_scale` the
documents and embeddings (0.1: 5,000 documents, 2,000 embeddings).

`replicas` > 1 replicates the fact tables (orders, lineitem, events) with
shifted keys, the recipe of `graft.tools.ScaleUp`: lineitem.l_orderkey
shifts by the same constant as orders.o_orderkey, dimension tables and
foreign keys into them are shared by every copy.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data row column table key value join filter scan sort group "
         "agg merge hash window stream batch vector query spark order line "
         "part customer big small fast slow").split()
ADJ = "blue old small new large hot cold red".split()
NOUN = "widget gizmo ring gear bolt plate rod anvil".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]

US_PER_DAY = 86_400_000_000


def _us(y, m, d):
    return int((datetime.datetime(y, m, d) - datetime.datetime(1970, 1, 1))
               .total_seconds() * 1_000_000)


def _days(rng, n, lo, hi):
    """Midnight timestamps (micros) uniform over [lo, hi]."""
    span = (hi - lo) // US_PER_DAY
    return lo + rng.integers(0, span + 1, n) * US_PER_DAY


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(a):
    return pa.array(a, type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def sizes(scale, text_scale):
    return {
        "customer": max(150, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(200, int(200_000 * scale)),
        "orders": max(1_500, int(1_500_000 * scale)),
        "lineitem": max(6_000, int(6_000_000 * scale)),
        "events": max(1_000, int(1_000_000 * scale)),
        "users": max(15, int(15_000 * scale)),
        "documents": max(500, int(50_000 * text_scale)),
        "embeddings": max(500, int(20_000 * text_scale)),
    }


def documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    dups = rng.choice(n, size=n // 20, replace=False)
    for i in dups:
        j = int(rng.integers(0, n - 1))
        j += j >= i
        texts[i] = texts[j] + " dup"
    return texts


def generate(out, seed, scale, text_scale, replicas=1):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes(scale, text_scale)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)]})
    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)})
    p = n["part"]
    keys = np.arange(p)
    _write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    o = n["orders"]
    orders = {
        "o_orderkey": np.arange(o),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, o, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, o, _us(1995, 1, 1), _us(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)]}
    li = n["lineitem"]
    lineitem = {
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105_000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, li, _us(1995, 1, 2), _us(2001, 11, 4))}
    e = n["events"]
    t0 = _us(2024, 1, 1)
    events = {
        "event_id": np.arange(e),
        "ts": np.sort(rng.integers(t0, t0 + 30 * US_PER_DAY, e)),
        "user_id": rng.integers(0, n["users"], e),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": np.array([f'{{"k": {k}}}' for k in range(100)])[rng.integers(0, 100, e)]}

    def replicate(cols, key, shift):
        if replicas == 1:
            return cols
        return {k: np.concatenate([v + i * shift if k == key else v for i in range(replicas)])
                for k, v in cols.items()}

    orders = replicate(orders, "o_orderkey", o)
    lineitem = replicate(lineitem, "l_orderkey", o)
    events = replicate(events, "event_id", e)
    orders["o_orderdate"] = _ts(orders["o_orderdate"])
    lineitem["l_shipdate"] = _ts(lineitem["l_shipdate"])
    events["ts"] = _ts(events["ts"])
    _write(out, "orders", orders)
    _write(out, "lineitem", lineitem)
    _write(out, "events", events)

    d = n["documents"]
    texts = documents(rng, d)
    ids = np.arange(d)
    _write(out, "documents", {
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, size=d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m = n["embeddings"]
    v = rng.standard_normal((m, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    return out
