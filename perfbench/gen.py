"""Seeded input generator for the layered benchmark.

Writes parquet tables shaped like the engine's sf0.1 fixtures (same schemas,
row counts and value domains), so every workload runs without any external
data:

* ``relational``: region, nation, customer, supplier, part, orders, lineitem
  and events. These are fixed (base seed 42); the run seed only permutes the
  query order, so they are generated once and reused.
* ``label_spread``: 2,000 x 64-d unit embeddings in 10 classes. The vectors
  and labels are fixed; the run seed permutes ``vec_id``, which moves the
  q12 seed set (``vec_id % 5 == 0``) and every id tie-break.
* ``text_dedup``: 5,000 documents over the fixture's 30-word vocabulary with
  8 exact duplicate pairs, plus 1,000 near-duplicates in clusters of 2-50
  documents. The cluster sizes, original lengths and edit counts are fixed;
  the run seed picks each cluster's original and each copy's 1-3 edited
  words.

Each call writes ``manifest.json`` (row counts, near-duplicate share, largest
cluster) beside the tables.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
N_EMB, DIM, N_CLASSES = 2_000, 64, 10
N_DOCS, N_EXACT_DUPS = 5_000, 8
NEAR_DUP_TARGET, CLUSTER_MIN, CLUSTER_MAX = 1_000, 2, 50
US_PER_DAY = 86_400_000_000


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(next(iter(cols.values())))}


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _date_us(rng, n, first, days):
    base = int(np.datetime64(first, "us").astype(np.int64))
    return base + rng.integers(0, days, n) * US_PER_DAY


def relational(out_dir):
    rng = np.random.default_rng(BASE_SEED)
    rows = {}
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    rows.update(_write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions}))
    rows.update(_write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    n_cust, n_supp, n_part, n_ord, n_li, n_ev = 15_000, 1_000, 20_000, 150_000, 600_000, 100_000
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    rows.update(_write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]}))
    rows.update(_write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    adj = np.array(["large", "hot", "blue", "small", "green", "cold", "red", "dark"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    rows.update(_write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}))

    rows.update(_write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(_date_us(rng, n_ord, "1995-01-01", 2404)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]}))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    rows.update(_write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_date_us(rng, n_li, "1995-01-02", 2498))}))
    ts0 = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    rows.update(_write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(ts0 + rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.0, 100.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))
    return {"rows": rows}


def label_spread(out_dir, seed):
    base = np.random.default_rng(BASE_SEED)
    x = base.standard_normal((N_EMB, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    label = base.integers(0, N_CLASSES, N_EMB).astype(np.int32)
    vec_id = np.random.default_rng(seed).permutation(N_EMB).astype(np.int64)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), DIM).cast(pa.list_(pa.float32()))
    return {"rows": _write(out_dir, "embeddings",
                           {"vec_id": vec_id, "embedding": emb, "label": label})}


def _doc_text(rng):
    return " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))])


def text_dedup(out_dir, seed):
    base = np.random.default_rng(BASE_SEED)
    texts = [_doc_text(base) for _ in range(N_DOCS)]
    # 8 exact duplicate pairs, as in the fixture
    for src, dst in base.choice(N_DOCS, (N_EXACT_DUPS, 2), replace=False):
        texts[dst] = texts[src] = texts[src] + " dup"

    # Cluster sizes, each original's word count and each copy's number of
    # substitutions are fixed, so every seed gives the same amount of
    # signature and candidate-verify work; the seed picks the originals
    # (among the documents of the fixed length) and the edited words.
    plan, n_copies = [], 0
    while n_copies < NEAR_DUP_TARGET:
        size = max(CLUSTER_MIN, min(int(base.integers(CLUSTER_MIN, CLUSTER_MAX + 1)),
                                    NEAR_DUP_TARGET - n_copies + 1))
        plan.append((size, int(base.integers(10, 101)), base.integers(1, 4, size - 1)))
        n_copies += size - 1
    by_length = {}
    for i, t in enumerate(texts):
        by_length.setdefault(len(t.split(" ")), []).append(i)
    rng = np.random.default_rng(seed)
    for size, length, n_subs in plan:
        pool = by_length[length]
        words = texts[pool.pop(int(rng.integers(len(pool))))].split(" ")
        for k in n_subs:
            copy = list(words)
            for pos in rng.choice(len(copy), int(k), replace=False):
                others = [w for w in VOCAB if w != copy[pos]]
                copy[pos] = others[int(rng.integers(len(others)))]
            texts.append(" ".join(copy))
    sizes = [size for size, _, _ in plan]

    n = len(texts)
    langs = np.array(["de", "en", "es", "fr", "zh"])
    rows = _write(out_dir, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, 5, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return {"rows": rows, "near_dup_rows": n_copies,
            "near_dup_share": round(n_copies / n, 6),
            "near_dup_clusters": len(sizes), "largest_cluster": max(sizes)}


def generate(workload, seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    if workload == "relational":
        info = relational(out_dir)
    elif workload == "label_spread":
        info = label_spread(out_dir, seed)
    elif workload == "text_dedup":
        info = text_dedup(out_dir, seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    info.update(workload=workload, seed=seed)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    return info


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
