"""Seeded generator for the TPC-H-like tables the graft queries read.

Writes one parquet file per table (`<name>.parquet`) with the column
names, types and value domains of the engine's test data: the
relational star schema plus the `events`, `documents` and `embeddings`
tables the pipeline operators use. The same (seed, scale) always gives
byte-identical values. `generate` is the interface.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DAY_US = 86_400_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days, n) * DAY_US


def sizes(scale):
    return {
        "customer": int(150_000 * scale), "supplier": int(10_000 * scale),
        "part": int(200_000 * scale), "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale), "events": int(1_000_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def build(name, rng, n):
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if name == "nation":
        keys = np.arange(25)
        return pa.table({
            "n_nationkey": pa.array(keys, pa.int32()),
            "n_name": [f"NATION_{k}" for k in keys],
            "n_regionkey": pa.array(keys % 5, pa.int32())})
    c, s, p, o = n["customer"], n["supplier"], n["part"], n["orders"]
    if name == "customer":
        return pa.table({
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(SEGMENTS, c)})
    if name == "supplier":
        return pa.table({
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    if name == "part":
        keys = np.arange(p, dtype=np.int64)
        return pa.table({
            "p_partkey": keys,
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, p),
                                                 rng.choice(NOUNS, p))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": rng.choice(PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    if name == "orders":
        return pa.table({
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000, 500000, o),
            "o_orderdate": _ts(_days(rng, "1995-01-01", 2404, o)),
            "o_orderpriority": rng.choice(PRIORITIES, o)})
    if name == "lineitem":
        m = n["lineitem"]
        qty = rng.integers(1, 51, m).astype(np.float64)
        return pa.table({
            "l_orderkey": rng.integers(0, o, m),
            "l_partkey": rng.integers(0, p, m),
            "l_suppkey": rng.integers(0, s, m),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, m), 2),
            "l_discount": rng.integers(0, 11, m) / 100,
            "l_tax": rng.integers(0, 9, m) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _ts(_days(rng, "1995-01-02", 2498, m))})
    if name == "events":
        m = n["events"]
        start = np.datetime64("2024-01-01", "us").astype(np.int64)
        ts = np.sort(start + rng.integers(0, 30 * DAY_US, m))
        return pa.table({
            "event_id": np.arange(m, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, max(150, m // 67), m),
            "event_type": rng.choice(EVENT_TYPES, m),
            "value": np.maximum(0.01, np.round(rng.exponential(50, m), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)]})
    if name == "documents":
        m = n["documents"]
        texts = []
        for i in range(m):
            if i >= 10 and rng.random() < 0.1:
                # near-duplicate of an earlier document: the dedup
                # operators need real matches to find
                words = texts[rng.integers(0, i)].split()
                words[rng.integers(0, len(words))] = "dup"
            else:
                words = list(rng.choice(WORDS, rng.integers(10, 100)))
            texts.append(" ".join(words))
        return pa.table({
            "doc_id": np.arange(m, dtype=np.int64), "text": texts,
            "lang": rng.choice(LANGS, m),
            "source": [f"src{k}" for k in rng.integers(0, 20, m)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    if name == "embeddings":
        m, dim = n["embeddings"], 64
        centers = rng.normal(0, 1, (10, dim))
        labels = rng.integers(0, 10, m)
        vecs = centers[labels] + rng.normal(0, 0.8, (m, dim))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        return pa.table({
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())})
    raise ValueError(f"unknown table {name}")


def generate(out, seed, scale, tables=ALL_TABLES):
    os.makedirs(out, exist_ok=True)
    n = sizes(scale)
    for i, name in enumerate(ALL_TABLES):
        # one stream per table, so a subset gets the same values as a
        # full generation
        rng = np.random.default_rng([seed, i])
        if name in tables:
            pq.write_table(build(name, rng, n), os.path.join(out, f"{name}.parquet"))

