"""Seeded generator of the catalog's ten input tables.

The tables have the schema that `graft.core.Tables` pins (a TPC-H-like
star schema plus `events`, `documents` and `embeddings`) and value
distributions shaped like the repository's synthetic test data:
uniform keys, `(orderkey, linenumber)` not unique, one month of events
with exponential gaps, documents drawn from a 30-word vocabulary with a
few near-duplicates, and unit-norm 64-dimensional float embeddings.

    python3 perfbench/datagen.py <out_dir> <seed> [scale]

The same seed and scale always give byte-identical parquet files.
"""
import os
import sys
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per unit of scale; scale 1.0 has the row counts of the "sf0.001"
# test tables (6,000 lineitem rows).
BASE_ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
             "lineitem": 6000, "events": 1000, "documents": 500,
             "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUN = ["widget", "gear", "bolt", "ring", "rod", "plate", "anvil", "gizmo"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("the a data spark stream query table row column join filter agg "
         "sort hash scan merge window group order line part customer key "
         "value batch vector fast slow big small").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY0 = datetime(1995, 1, 1)


def _rows(name, scale):
    return max(1, int(round(BASE_ROWS[name] * scale)))


def _write(out_dir, name, columns, schema):
    table = pa.table(columns, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _dates(rng, n, lo_days, hi_days):
    days = rng.integers(lo_days, hi_days + 1, n)
    return np.array([DAY0 + timedelta(days=int(d)) for d in days],
                    dtype="datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir, seed, scale=1.0):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    ts = pa.timestamp("us")

    _write(out_dir, "region",
           {"r_regionkey": list(range(5)), "r_name": REGIONS},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(out_dir, "nation",
           {"n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]))

    nc = _rows("customer", scale)
    _write(out_dir, "customer",
           {"c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, nc)},
           pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                      ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                      ("c_mktsegment", pa.string())]))

    ns = _rows("supplier", scale)
    _write(out_dir, "supplier",
           {"s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99)},
           pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                      ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))

    npart = _rows("part", scale)
    keys = np.arange(npart, dtype=np.int64)
    _write(out_dir, "part",
           {"p_partkey": keys,
            "p_name": [f"{a} {b}" for a, b in
                       zip(rng.choice(ADJ, npart), rng.choice(NOUN, npart))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PTYPES, npart),
            "p_size": rng.integers(1, 51, npart, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)},
           pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                      ("p_brand", pa.string()), ("p_type", pa.string()),
                      ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    no = _rows("orders", scale)
    _write(out_dir, "orders",
           {"o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _dates(rng, no, 0, 2403),
            "o_orderpriority": rng.choice(PRIORITIES, no)},
           pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                      ("o_orderstatus", pa.string()),
                      ("o_totalprice", pa.float64()),
                      ("o_orderdate", ts), ("o_orderpriority", pa.string())]))

    nl = _rows("lineitem", scale)
    _write(out_dir, "lineitem",
           {"l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
            "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
            "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["O", "F"], nl),
            "l_shipdate": _dates(rng, nl, 1, 2499)},
           pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                      ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                      ("l_quantity", pa.float64()),
                      ("l_extendedprice", pa.float64()),
                      ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                      ("l_returnflag", pa.string()),
                      ("l_linestatus", pa.string()), ("l_shipdate", ts)]))

    ne = _rows("events", scale)
    gaps = rng.exponential(30 * 86400 / ne, ne)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = start + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    _write(out_dir, "events",
           {"event_id": np.arange(ne, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, max(1, nc // 10), ne, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": _money(rng, ne, 0.01, 500.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]},
           pa.schema([("event_id", pa.int64()), ("ts", ts),
                      ("user_id", pa.int64()), ("event_type", pa.string()),
                      ("value", pa.float64()), ("props", pa.string())]))

    nd = _rows("documents", scale)
    texts = []
    for _ in range(nd):
        words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        if rng.random() < 0.05:
            words += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(words))
    _write(out_dir, "documents",
           {"doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                      ("lang", pa.string()), ("source", pa.string()),
                      ("n_chars", pa.int64())]))

    nv = _rows("embeddings", scale)
    vecs = rng.normal(size=(nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings",
           {"vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, nv, dtype=np.int32)},
           pa.schema([("vec_id", pa.int64()),
                      ("embedding", pa.list_(pa.float32())),
                      ("label", pa.int32())]))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
