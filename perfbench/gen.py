#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Writes the ten engine tables (schemas and value domains of FIXTURES.md) and,
for the lake_writes workload, an operation stream with its input batches.
The same seed gives byte-identical files; the engine only ever receives the
generated directory. `run.py` calls `generate()` with each workload's sizes.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at sf0.1, the largest scale the fixture tables are cut at;
# every other scale multiplies these (dimension tables stay fixed-size).
SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "big", "cold", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.13, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
VOCAB_ARR = np.array(VOCAB)
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000
# Workload properties: the share of documents that are edited near-copies of
# an earlier one, and the share of MERGE/upsert batch keys already present.
NEAR_COPY_SHARE = 0.2
KEY_OVERLAP = 0.5


def money(rng, lo, hi, n):
    """Uniform values on the 2-decimal grid (exact cents, then scaled)."""
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def ts_days(base, days):
    return (base + days.astype("timedelta64[D]")).astype("datetime64[us]")


def write(table, path):
    # Fixed writer settings keep the bytes a pure function of the rows.
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20,
                   write_statistics=True)


def scaled(sf):
    return {k: max(1, int(round(v * sf / 0.1))) for k, v in SF01_ROWS.items()}


def star_tables(rng, sf):
    n = scaled(sf)
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": list(rng.choice(SEGMENTS, nc))})
    ns = n["supplier"]
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                              rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": list(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 2)})
    no = n["orders"]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": money(rng, 1000, 500000, no),
        "o_orderdate": ts_days(EPOCH_1995, rng.integers(0, 2404, no)),
        "o_orderpriority": list(rng.choice(PRIORITIES, no))})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": money(rng, 900, 105000, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": list(rng.choice(["F", "O"], nl)),
        "l_shipdate": ts_days(EPOCH_1995, rng.integers(1, 2500, nl))})
    ne = n["events"]
    offs = np.sort(rng.integers(0, 30 * DAY_US, ne))
    events = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(EPOCH_2024 + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(2, nc // 10), ne), pa.int64()),
        "event_type": list(rng.choice(EVENT_TYPES, ne)),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events}


def doc_texts(rng, n):
    """`n` documents; a `NEAR_COPY_SHARE` of them are edited near-copies of
    an earlier original: the original with a marker token appended, as in
    the fixture corpus (near-copy pairs sit at Jaccard >= 0.85)."""
    texts, originals = [], []
    for _ in range(n):
        if originals and rng.random() < NEAR_COPY_SHARE:
            texts.append(originals[int(rng.integers(0, len(originals)))] + " dup")
        else:
            t = " ".join(VOCAB_ARR[rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))])
            originals.append(t)
            texts.append(t)
    return texts


def documents(rng, n, id_base=0):
    texts = doc_texts(rng, n)
    return pa.table({
        "doc_id": pa.array(np.arange(id_base, id_base + n), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{i}" for i in rng.integers(0, N_SOURCES, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, n):
    centers = rng.normal(0, 1, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n)
    v = centers[labels] + rng.normal(0, 0.6, (n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# ---- lake_writes operation stream ---------------------------------------

LAKE_GROUPS = 24
LAKE_SCHEMA = pa.schema([("k", pa.int64()), ("grp", pa.string()),
                         ("amount", pa.decimal128(12, 2)),
                         ("ts", pa.timestamp("us")), ("note", pa.string())])
# One cycle of the stream: writes, reads, upkeep and maintenance in a fixed
# order, so every run measures the same mix at the same positions; the seed
# draws the batches, keys and versions. A window runs at most as many cycles
# as the stream holds, so a much faster engine still ends on a whole round. The warm-up prefix runs, during
# set-up, the operations whose first, cold execution costs most (the first
# docs append starts the change-feed stream); it stays part of the replayed
# stream.
LAKE_CYCLE = ["append", "point", "merge", "update", "range", "delete", "docs_append",
              "upsert", "aggregate", "store_append", "refresh_mv", "append",
              "time_travel", "changes", "compact", "expire"]
LAKE_WARMUP = ["merge", "refresh_mv", "docs_append"]
LAKE_KEEP_LAST = 24       # snapshots kept by each expire_snapshots
DOCS_BATCH_ROWS = 100     # documents per docs-source version


def lake_rows(rng, keys):
    n = len(keys)
    cents = rng.integers(100, 1_000_000, n)
    return pa.table({
        "k": pa.array(keys, pa.int64()),
        "grp": [f"g{g:02d}" for g in rng.integers(0, LAKE_GROUPS, n)],
        "amount": pa.array([f"{c // 100}.{c % 100:02d}" for c in cents.tolist()])
        .cast(pa.decimal128(12, 2)),
        "ts": pa.array(EPOCH_2024 + rng.integers(0, 90 * DAY_US, n)
                       .astype("timedelta64[us]"), pa.timestamp("us")),
        "note": [" ".join(w) for w in VOCAB_ARR[rng.integers(0, len(VOCAB), (n, 6))]]},
        schema=LAKE_SCHEMA)


def lake(rng, out, base_rows, cycles, batch_rows):
    os.makedirs(f"{out}/lake", exist_ok=True)
    write(lake_rows(rng, np.arange(base_rows)), f"{out}/lake/base.parquet")
    next_key, next_doc = base_rows, 0
    write(documents(rng, 200, next_doc), f"{out}/lake/docs_0.parquet")
    next_doc += 200
    ops, idx = [], 0
    for cycle in range(cycles):
        for kind in (LAKE_WARMUP + LAKE_CYCLE if cycle == 0 else LAKE_CYCLE):
            op = {"kind": kind}
            if kind in ("append", "store_append"):
                op["batch"] = f"lake/b{idx}.parquet"
                write(lake_rows(rng, np.arange(next_key, next_key + batch_rows)),
                      f"{out}/{op['batch']}")
                next_key += batch_rows
            elif kind in ("merge", "upsert"):
                n_old = int(batch_rows * KEY_OVERLAP)
                old = rng.choice(next_key, n_old, replace=False)
                new = np.arange(next_key, next_key + batch_rows - n_old)
                next_key += batch_rows - n_old
                op["batch"] = f"lake/b{idx}.parquet"
                write(lake_rows(rng, np.sort(np.concatenate([old, new]))),
                      f"{out}/{op['batch']}")
            elif kind in ("update", "delete"):
                op["mod"], op["rem"] = 97, int(rng.integers(0, 97))
            elif kind == "docs_append":
                op["batch"] = f"lake/docs_{idx + 1}.parquet"
                write(documents(rng, DOCS_BATCH_ROWS, next_doc),
                      f"{out}/{op['batch']}")
                next_doc += DOCS_BATCH_ROWS
            elif kind == "point":
                op["key"] = int(rng.integers(0, next_key))
            elif kind == "range":
                lo = int(rng.integers(0, max(1, next_key - batch_rows)))
                op["lo"], op["hi"] = lo, lo + batch_rows // 4
            elif kind == "time_travel":
                op["back"] = int(rng.integers(1, LAKE_KEEP_LAST - 2))
            elif kind == "expire":
                op["keep_last"] = LAKE_KEEP_LAST
            ops.append(op)
            idx += 1
    with open(f"{out}/lake/ops.json", "w") as f:
        json.dump({"ops": ops, "warmup_len": len(LAKE_WARMUP), "cycle_len": len(LAKE_CYCLE),
                   "key_overlap": KEY_OVERLAP,
                   "batch_rows": batch_rows, "base_rows": base_rows}, f,
                  indent=0, sort_keys=True)


def generate(out, seed, sf, lake_cycles=0, lake_base_rows=0, lake_batch_rows=0):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    for name, t in star_tables(rng, sf).items():
        write(t, f"{out}/{name}.parquet")
    n = scaled(sf)
    write(documents(rng, n["documents"]), f"{out}/documents.parquet")
    write(embeddings(rng, max(500, n["embeddings"])), f"{out}/embeddings.parquet")
    if lake_cycles:
        lake(rng, out, lake_base_rows, lake_cycles, lake_batch_rows)
