"""Seeded input generator for the benchmark workloads.

Builds one directory of parquet tables (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
schemas and value distributions of the engine's sf0.1 test tables. The
seed fixes every value, including which documents are near-duplicates
and which word each one changes; row counts and the near-duplicate share
are fixed per workload, so every seed gives inputs of the same size.

Ids are dense 0..n-1 in generated order. Physical parquet types follow
the test tables: int64 keys, int32 small codes, timestamp[us] times,
list<float> embeddings.

run.py calls `generate` for each run.
"""
import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts; a workload's scale multiplies them per table
BASE_ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000,
}

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

US_PER_DAY = 86_400_000_000


def _us(date):
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(values):
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first, last, n):
    lo, hi = _us(first) // US_PER_DAY, _us(last) // US_PER_DAY
    return rng.integers(lo, hi + 1, n) * US_PER_DAY


def _documents(rng, n, dup_share):
    """Random-word documents; `dup_share` of them are near-duplicates of
    an earlier document: one word replaced and the marker word `dup`
    appended (the shape of the test tables' near-duplicates)."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    words = [list(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    n_dup = int(round(n * dup_share))
    dup_rows = rng.choice(np.arange(n // 2, n), size=n_dup, replace=False) if n_dup else []
    for r in dup_rows:
        src = list(words[int(rng.integers(0, n // 2))])
        src[int(rng.integers(0, len(src)))] = str(vocab[rng.integers(0, len(vocab))])
        words[r] = src + ["dup"]
    text = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)].tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })


def build_tables(seed, scale, dup_share):
    """Returns {table: pyarrow.Table}. `scale` maps table -> multiplier of
    its sf0.1 row count (missing tables use 1.0); a table scaled by 0 is
    left out."""
    rng = np.random.default_rng(seed)
    rows = {t: max(1, int(round(BASE_ROWS[t] * scale.get(t, 1.0)))) for t in BASE_ROWS}
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
    }
    n = rows["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)].tolist())})
    n = rows["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n))})
    n = rows["part"]
    keys = np.arange(n, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n)].tolist()),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1))})
    n = rows["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, rows["customer"], n).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)].tolist()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)].tolist())})
    n = rows["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, rows["orders"], n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, rows["part"], n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)].tolist()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)].tolist()),
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n))})
    n = rows["events"]
    ts = np.sort(rng.integers(_us("2024-01-01"), _us("2024-01-31"), n))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)].tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    out["documents"] = _documents(rng, rows["documents"], dup_share)
    if scale.get("embeddings", 1.0) == 0:
        return out
    n = rows["embeddings"]
    vec = rng.standard_normal((n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32))})
    return out


def generate(out_dir, seed, scale, dup_share):
    """Writes the tables into `out_dir` (skipped when a previous call
    with the same arguments finished there) and returns the size record
    {table: {"rows": n, "bytes": b}}."""
    manifest = os.path.join(out_dir, "manifest.json")
    ident = {"seed": seed, "scale": scale, "dup_share": dup_share}
    if os.path.exists(manifest):
        with open(manifest) as f:
            done = json.load(f)
        if done.get("ident") == ident:
            return done["sizes"]
    # start empty, so no table of an earlier setting is left behind
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    # one stream per seed; the crc keeps distinct settings apart
    mixed = (seed * 1_000_003 + zlib.crc32(json.dumps(ident, sort_keys=True).encode())) % 2**63
    sizes = {}
    for name, table in build_tables(mixed, scale, dup_share).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    with open(manifest, "w") as f:
        json.dump({"ident": ident, "sizes": sizes}, f)
    return sizes

