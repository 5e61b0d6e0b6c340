"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the engine's queries read (`region` ...
`embeddings`) with the schemas, key ranges and value domains of the
TPC-H-ish fixture the engine is tested against: the same seed always gives
byte-identical tables, and the engine sees only these files.

Shape notes that the queries depend on:
  - `(l_orderkey, l_linenumber)` is NOT unique (order keys are drawn, not
    enumerated), matching the fixture;
  - `events.ts` increases with `event_id` over 30 days of 2024;
  - documents are random token streams over a 30-word vocabulary, and ~5%
    are copies of an earlier-drawn document with " dup" appended, which is
    what gives the dedup/similarity DAG real near-duplicate pairs;
  - embeddings are random unit vectors in 64 dimensions.

Usage: python3 gen.py <out_dir> <seed> <sf>  (run.py imports it)
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the row scan slow fast table value part hash merge batch spark line "
         "sort window key order data column agg join small customer query big "
         "stream filter group vector").split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS, LANG_P = ["en", "fr", "es", "zh", "de"], [0.44, 0.14, 0.14, 0.14, 0.14]
DAY_US = 86_400_000_000


def sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": max(10, int(15_000 * sf)), "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def days_since_epoch(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def ts_days(rng, n, lo, hi):
    """Midnight timestamps (µs) uniformly over the day range [lo, hi]."""
    return pa.array(rng.integers(lo, hi + 1, n).astype(np.int64) * DAY_US, pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def tables(seed, sf, names=TABLES):
    """The tables in `names`; each draws from its own seeded stream, so a
    table's contents do not depend on which other tables are generated."""
    n = sizes(sf)
    return {t: globals()["_" + t](np.random.default_rng([seed, TABLES.index(t)]), n) for t in names}


def _region(rng, n):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def _nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def _customer(rng, n):
    c = n["customer"]
    return pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(rng, c, -999.99, 9999.99),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c)})


def _supplier(rng, n):
    s = n["supplier"]
    return pa.table({
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(rng, s, -999.99, 9999.99)})


def _part(rng, n):
    p = n["part"]
    names = [f"{a} {b}" for a in ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
             for b in ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]]
    keys = np.arange(p)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pick(rng, names, p),
        "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})


def _orders(rng, n):
    o = n["orders"]
    return pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], o), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], o),
        "o_totalprice": money(rng, o, 1000.0, 500000.0),
        "o_orderdate": ts_days(rng, o, days_since_epoch(1995, 1, 1), days_since_epoch(2001, 8, 1)),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o)})


def _lineitem(rng, n):
    li = n["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(rng, li, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100.0, 2),
        "l_returnflag": pick(rng, ["A", "N", "R"], li),
        "l_linestatus": pick(rng, ["F", "O"], li),
        "l_shipdate": ts_days(rng, li, days_since_epoch(1995, 1, 2), days_since_epoch(2001, 11, 4))})


def _events(rng, n):
    e = n["events"]
    start_us = days_since_epoch(2024, 1, 1) * DAY_US
    return pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array(start_us + np.sort(rng.integers(0, 30 * DAY_US, e)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string())})


def _documents(rng, n):
    d = n["documents"]
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in rng.integers(10, 100, d)]
    for i in np.flatnonzero(rng.random(d) < 0.05):
        texts[i] = texts[rng.integers(0, d)] + " dup"
    return pa.table({
        "doc_id": pa.array(range(d), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, LANGS, d, LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, n):
    v = n["embeddings"]
    vecs = rng.standard_normal((v, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(v), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), pa.int32())})


def write(out_dir, seed, sf, names=TABLES):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf, names).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
