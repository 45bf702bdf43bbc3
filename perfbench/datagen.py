"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same files. The JVM side receives only these files (plus a manifest) and
generates its query mix from the same seed.
"""

import json
import os
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scan dataset: integer columns only, so every aggregate the queries compute
# is exact and a result hash over file:// and graft:// must agree bit for bit.
SCAN_ROWS_PER_FILE = 36_000
SCAN_ROW_GROUP = 18_000
SCAN_VALUE_COLS = 7


def _write_scan_file(seed, i, path):
    rng = np.random.default_rng([seed, 1, i])
    n = SCAN_ROWS_PER_FILE
    cols = {
        "id": pa.array(np.arange(n, dtype=np.int64) + rng.integers(0, 1 << 40)),
        "g": pa.array(rng.integers(0, 16, n, dtype=np.int32)),
        "f": pa.array(rng.integers(0, 1000, n, dtype=np.int32)),
    }
    for i in range(SCAN_VALUE_COLS):
        cols[f"v{i}"] = pa.array(rng.integers(0, 1 << 31, n, dtype=np.int64))
    pq.write_table(pa.table(cols), path, row_group_size=SCAN_ROW_GROUP,
                   compression="snappy", use_dictionary=False)


def scan(out_dir, seed, n_files, budget_mb):
    """`n_files` parquet files of ~1.9 MB each plus manifest.json."""
    os.makedirs(out_dir, exist_ok=True)
    names = [f"part-{i:05d}.parquet" for i in range(n_files)]
    paths = [os.path.join(out_dir, n) for n in names]
    with ProcessPoolExecutor(max_workers=min(4, os.cpu_count() or 1)) as pool:
        list(pool.map(_write_scan_file, [seed] * n_files, range(n_files), paths))
    files = [{"name": n, "bytes": os.path.getsize(p), "rows": SCAN_ROWS_PER_FILE}
             for n, p in zip(names, paths)]
    biggest = max(f["bytes"] for f in files)
    # the cache evicts whole files: keep each file within 1/16 of the budget
    assert biggest * 16 <= budget_mb * (1 << 20), (biggest, budget_mb)
    manifest = {"files": files, "budget_mb": budget_mb,
                "total_bytes": sum(f["bytes"] for f in files)}
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


# ---- ops_mix: a small TPC-H-like star schema plus events, documents and
# embeddings, with the column names and value domains the SparkEntry
# queries expect. ----

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en"] * 4 + ["zh", "es", "de", "fr"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
PART_WORDS = ["red", "blue", "green", "large", "small", "steel", "brass",
              "plate", "ring", "bolt", "nut", "gear"]
PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO", "STANDARD"]


def _ts(seconds):
    return pa.array(seconds.astype("datetime64[s]").astype("datetime64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    texts, langs, sources = [], [], []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document with one edit
            src = texts[int(rng.integers(0, i))].split(" ")
            src[int(rng.integers(0, len(src)))] = "dup"
            toks = src
        else:
            toks = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(toks))
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
        sources.append(f"src{i % 20}")
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array(sources),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def ops_tables(out_dir, seed, sf=0.01):
    """The ten tables of the repository's test corpus (TESTDATA.md) at scale factor `sf`."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), 500, 500
    day = 86_400
    t1995 = int(np.datetime64("1995-01-01", "s").astype(np.int64))
    t2024 = int(np.datetime64("2024-01-01", "s").astype(np.int64))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                rng.choice(PART_WORDS[:8], n_part), rng.choice(PART_WORDS[7:], n_part))]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
            "o_orderdate": _ts(t1995 + rng.integers(0, 2405, n_ord) * day),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["R", "A", "N"], n_line)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_line)),
            "l_shipdate": _ts(t1995 + rng.integers(0, 2500, n_line) * day)}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(np.sort(t2024 * 1_000_000 + rng.integers(
                0, 30 * day * 1_000_000, n_ev)).astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, 150, n_ev, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
            "value": pa.array(_money(rng, 0, 100, n_ev)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
