"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's catalog knows (`<dir>/<name>.parquet`)
with the schemas and value domains of the TPC-H-ish fixture set: uniform
keys and measures, a 30-word document vocabulary with near-duplicates,
unit-norm 64-d embeddings clustered by label, and a time-ordered event
log. The same (sf, seed) always yields byte-identical tables.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def _days(lo, hi, n, rng):
    """n midnight timestamps uniform over [lo, hi] (inclusive dates)."""
    span = (hi - lo).days
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _choice(values, n, rng, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def table_sizes(sf):
    """Row counts per table at scale factor `sf` (plus the user count)."""
    return {"region": 5, "nation": 25,
            "customer": max(1, int(150000 * sf)), "supplier": max(1, int(10000 * sf)),
            "part": max(1, int(200000 * sf)), "orders": max(1, int(1500000 * sf)),
            "lineitem": max(1, int(6000000 * sf)), "events": max(1, int(1000000 * sf)),
            "documents": max(500, int(50000 * sf)), "embeddings": max(500, int(20000 * sf)),
            "users": max(1, int(15000 * sf))}


def tables(sf, seed):
    """{name: pyarrow.Table} for scale factor `sf`."""
    rng = np.random.default_rng(seed)
    z = table_sizes(sf)
    n_cust, n_supp, n_part = z["customer"], z["supplier"], z["part"]
    n_ord, n_li, n_ev = z["orders"], z["lineitem"], z["events"]
    n_doc, n_emb, n_users = z["documents"], z["embeddings"], z["users"]
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": _choice(SEGMENTS, n_cust, rng)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), pa.float64())})
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in ADJS for b in NOUNS]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _choice(names, n_part, rng),
        "p_brand": _choice([f"Brand#{i}" for i in range(1, 26)], n_part, rng),
        "p_type": _choice(PTYPES, n_part, rng),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1), pa.float64())})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _choice(["F", "O", "P"], n_ord, rng),
        "o_totalprice": pa.array(money(1000.0, 500000.0, n_ord), pa.float64()),
        "o_orderdate": pa.array(_days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord, rng),
                                pa.timestamp("us")),
        "o_orderpriority": _choice(PRIORITIES, n_ord, rng)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(money(900.0, 105000.0, n_li), pa.float64()),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_li), 2), pa.float64()),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_li), 2), pa.float64()),
        "l_returnflag": _choice(["A", "N", "R"], n_li, rng),
        "l_linestatus": _choice(["F", "O"], n_li, rng),
        "l_shipdate": pa.array(_days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li, rng),
                               pa.timestamp("us"))})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _choice(EVENT_TYPES, n_ev, rng),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string())})
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate: a prefix of an earlier doc
            words = texts[rng.integers(0, i)].split(" ")
            keep = max(1, int(len(words) * rng.uniform(0.5, 1.0)))
            texts.append(" ".join(words[:keep] + ["dup"]))
        elif i > 10 and r < 0.052:  # exact copy
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB),
                                                                 rng.integers(10, 100))]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(LANGS, n_doc, rng, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(sf, seed, out_dir):
    """Write every table to `<out_dir>/<name>.parquet`; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total
