"""DuckDB oracle for the catalog workload.

Each query's oracle SQL runs in DuckDB over the same seeded tables the
program read; the answer is cached per (data digest, SQL text), so a
repeated seed costs no oracle time. Results are compared with the
canonical form of the repository's correctness gate (`scripts/check.py`):
sorted column names, every value stringified, rows sorted.
"""
import hashlib
import os
import sys

import duckdb
import pandas as pd

from paths import ROOT

sys.path.insert(0, os.path.join(ROOT, "scripts"))
from check import TABLES, canon  # noqa: E402  (the gate's own canonical form)


def data_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:20]


def answers(data_dir, sqls, cache_dir):
    """{name: DataFrame or Exception} for every {name: sql}."""
    digest = data_digest(data_dir)
    os.makedirs(os.path.join(cache_dir, digest), exist_ok=True)
    con = None
    out = {}
    for name, sql in sorted(sqls.items()):
        key = hashlib.sha256(sql.encode()).hexdigest()[:20]
        path = os.path.join(cache_dir, digest, f"{key}.pkl")
        if os.path.exists(path):
            out[name] = pd.read_pickle(path)
            continue
        if con is None:
            con = duckdb.connect()
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        try:
            df = con.sql(sql).df()
            df.to_pickle(path)
            out[name] = df
        except Exception as e:  # reported per query, never dropped
            out[name] = e
    if con is not None:
        con.close()
    return out


def compare(got, want):
    """None when equal under the canonical form, else a short reason."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    if not g.equals(w):
        diff = (g != w).any(axis=1)
        i = diff[diff].index[0]
        return (f"{int(diff.sum())}/{len(g)} rows differ; first: spark "
                f"{g.iloc[i].to_dict()} duckdb {w.iloc[i].to_dict()}")
    return None


def check(result_dir, data_dir, sqls, cache_dir):
    """{name: reason} for each query whose result differs from the oracle."""
    bad = {}
    for name, want in answers(data_dir, sqls, cache_dir).items():
        if isinstance(want, Exception):
            bad[name] = f"oracle failed: {type(want).__name__}: {want}"
            continue
        try:
            got = pd.read_parquet(os.path.join(result_dir, name))
        except Exception as e:
            bad[name] = f"no result to compare: {type(e).__name__}: {e}"
            continue
        reason = compare(got, want)
        if reason:
            bad[name] = reason[:600]
    return bad
