"""Seeded synthetic tables in the shape the query surface reads.

The ten tables (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings) follow the schemas in FIXTURES.md section 2:
same column names, Arrow types and value ranges. Row counts scale with `sf`
the same way (sf0.01: 500 documents, 10,000 events, ~60,000 lineitems).
Documents are 10-100 words drawn from a fixed 30-word vocabulary; 5% are a
near-duplicate of another document with " dup" appended and a few are exact
copies, so the dedup families have work to find.

The same (seed, sf) always writes byte-identical values.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def documents(rng, n, first_id=0):
    """`n` documents with ids first_id.. as a dict of numpy/list columns."""
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    # near-duplicates: a copy of another document plus a marker word
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    # exact duplicates
    for i in np.flatnonzero(rng.random(n) < 0.002):
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": list(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _ts_us(rng, n, start, end):
    """`n` uniform microsecond timestamps in [start, end) (numpy datetime64)."""
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    return rng.integers(lo, hi, size=n).astype("datetime64[us]")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, size=n).astype("datetime64[D]").astype(
        "datetime64[us]")


def tables(seed, sf):
    """All ten tables as pyarrow Tables, keyed by name."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": list(rng.choice(
            ["MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD"],
            n_cust))})
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    adj = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(
            ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"],
            n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    ok = np.arange(n_ord, dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": list(rng.choice(["O", "P", "F"], n_ord)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": list(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord))})
    per = rng.integers(1, 8, n_ord)
    lo = np.repeat(ok, per)
    ln = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    n_li = len(lo)
    perm = rng.permutation(n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": lo[perm],
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(ln[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": list(rng.choice(["R", "A", "N"], n_li)),
        "l_linestatus": list(rng.choice(["O", "F"], n_li)),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    ts = np.sort(_ts_us(rng, n_evt, "2024-01-01", "2024-01-31"))
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(100, int(15_000 * sf)), n_evt),
        "event_type": list(rng.choice(EVENT_TYPES, n_evt)),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    out["documents"] = pa.table(documents(rng, n_doc))
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write(out_dir, seed, sf):
    """Write every table as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
