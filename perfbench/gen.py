#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

Schemas and value domains follow tools/gen_sf1.py (orders, lineitem,
customer, documents, embeddings); row counts scale with `--scale`, where
1.0 means sf1 row counts. The same (workload, seed, scale) always yields
byte-identical inputs, and a finished directory is reused: a `DONE` file
marks it complete.

Usage:
  python3 perfbench/gen.py --workload lake_read --seed 1 --scale 0.05 --out DIR
"""
import argparse
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

EPOCH95 = np.datetime64("1995-01-01")
STATUS = np.array(["O", "P", "F"])
PRIOS = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["MACHINERY", "BUILDING", "FURNITURE", "AUTOMOBILE", "HOUSEHOLD"])
RFLAG = np.array(["R", "A", "N"])
LSTAT = np.array(["F", "O"])
VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window"])
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])

# lake_read: number of IceLite appends lineitem is built from (each
# append is one commit, and set-up is repeated three times per run)
READ_APPENDS = 4
# lake_write: cycles generated (a run stops at the time limit long before)
WRITE_CYCLES = 8
# curate_batch: fresh batch directories generated
CURATE_BATCHES = 8


def orders_table(rng, keys, n_cust):
    n = len(keys)
    odate = EPOCH95 + rng.integers(0, 2405, n).astype("timedelta64[D]")
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": STATUS[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": PRIOS[rng.integers(0, 5, n)]})


def gen_lake_read(rng, scale, out):
    n_cust = max(1000, int(150_000 * scale))
    n_orders = max(5000, int(1_500_000 * scale))
    n_part, n_supp = max(1000, int(200_000 * scale)), max(100, int(10_000 * scale))
    pq.write_table(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]}), f"{out}/customer.parquet")
    pq.write_table(orders_table(rng, np.arange(n_orders), n_cust), f"{out}/orders.parquet")
    nlines = 1 + rng.poisson(3.0, n_orders).clip(0, 16)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), nlines)
    nl = l_order.size
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    l_lineno = (np.arange(nl) - starts + 1).astype(np.int32)
    sdays = rng.integers(1, 2500, nl)
    li = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, nl), pa.int64()),
        "l_linenumber": pa.array(l_lineno, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": RFLAG[rng.integers(0, 3, nl)],
        "l_linestatus": LSTAT[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array((EPOCH95 + sdays.astype("timedelta64[D]"))
                               .astype("datetime64[us]"), pa.timestamp("us"))})
    # appended in l_shipdate order, so each file covers a narrow date band
    # and per-file min/max can prune range queries
    li = li.take(np.argsort(sdays, kind="stable"))
    os.makedirs(f"{out}/lineitem", exist_ok=True)
    bounds = np.linspace(0, nl, READ_APPENDS + 1).astype(int)
    for i in range(READ_APPENDS):
        pq.write_table(li.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       f"{out}/lineitem/part-{i:02d}.parquet")
    # the fixed seeded query sequence, in rounds: every round runs each
    # point kind twice and each scan kind once, in a seeded order, so the
    # mix of a run does not depend on the seed. Parameters come from small
    # pools: each distinct query is checked once against DuckDB, and its
    # repeats must return the same answer.
    point_kinds = ["p_count", "p_describe", "p_range", "p_lookup", "p_travel",
                   "p_incremental", "p_meta", "p_v2range"]
    scan_kinds = ["s_topk", "s_join", "s_union", "s_hist", "s_filter"]
    ops = []
    for _ in range(40):
        kinds = point_kinds * 2 + scan_kinds
        for i in rng.permutation(len(kinds)):
            ops.append({"kind": kinds[i], "arg": int(rng.integers(0, 4))})
    return {"rows": {"lineitem": int(nl), "orders": n_orders, "customer": n_cust},
            "appends": READ_APPENDS, "ops": ops}


def gen_lake_write(rng, scale, out):
    n_cust = max(1000, int(150_000 * scale))
    base_n = max(10_000, int(1_500_000 * scale))
    batch = max(400, int(20_000 * scale))
    half = batch // 2
    pq.write_table(orders_table(rng, np.arange(base_n), n_cust), f"{out}/base.parquet")
    os.makedirs(f"{out}/cycles", exist_ok=True)
    os.makedirs(f"{out}/stream", exist_ok=True)
    next_key = base_n
    cycles = []
    for c in range(WRITE_CYCLES):
        new = np.arange(next_key, next_key + half)
        next_key += half
        existing = np.sort(rng.choice(next_key - half, batch - half, replace=False))
        keys = np.concatenate([new, existing])
        t = orders_table(rng, keys, n_cust)
        pq.write_table(t, f"{out}/cycles/c{c:04d}.parquet")
        pacsv.write_csv(t.set_column(4, "o_orderdate", pa.compute.strftime(
            t.column("o_orderdate"), format="%Y-%m-%d")), f"{out}/cycles/c{c:04d}.csv")
        skeys = np.arange(next_key, next_key + 64)
        next_key += 64
        pq.write_table(orders_table(rng, skeys, n_cust), f"{out}/stream/s{c:04d}.parquet")
        # a key range of about 0.5% of the key space to delete
        width = max(1, int(next_key * 0.005))
        lo = int(rng.integers(0, next_key - width))
        cycles.append({"n_new": int(half), "del_lo": lo, "del_hi": lo + width,
                       "stream_rows": 64})
    return {"rows": {"base": base_n, "batch": batch}, "cycles": cycles}


def gen_curate(rng, scale, out):
    # scale 1.0 is a batch of 10k documents and 4k embeddings
    n_docs, n_vecs = int(10_000 * scale), int(4_000 * scale)
    for b in range(CURATE_BATCHES):
        d = f"{out}/b{b:04d}"
        os.makedirs(d, exist_ok=True)
        doc_words = rng.integers(8, 110, n_docs)
        words = VOCAB[rng.integers(0, 31, int(doc_words.sum()))]
        ends = np.cumsum(doc_words)
        texts = [" ".join(words[e - w:e]) for e, w in zip(ends, doc_words)]
        # ~0.2% exact duplicates, as in the source corpus
        for i in rng.choice(np.arange(1, n_docs), n_docs // 500, replace=False):
            texts[i] = texts[i - 1]
        base = b * n_docs
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(base, base + n_docs), pa.int64()),
            "text": texts,
            "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}), f"{d}/documents.parquet")
        labels = rng.integers(0, 10, n_vecs)
        means = rng.standard_normal((10, 64)).astype(np.float32)
        means /= np.linalg.norm(means, axis=1, keepdims=True)
        vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32) + 0.8 * means[labels]
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n_vecs + 1) * 64, 64), pa.int32()),
            pa.array(vecs.reshape(-1), pa.float32()))
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32())}), f"{d}/embeddings.parquet")
    return {"rows": {"documents": n_docs, "embeddings": n_vecs}, "batches": CURATE_BATCHES}


GENERATORS = {"lake_read": gen_lake_read, "lake_write": gen_lake_write,
              "curate_batch": gen_curate}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    if os.path.exists(f"{a.out}/DONE"):
        print(json.dumps({"bench.gen_s": 0.0, "reused": True}))
        return
    t0 = time.time()
    shutil.rmtree(a.out, ignore_errors=True)
    os.makedirs(a.out)
    # one stream per (workload, seed): inputs never depend on other workloads
    rng = np.random.default_rng([a.seed, sorted(GENERATORS).index(a.workload)])
    spec = GENERATORS[a.workload](rng, a.scale, a.out)
    spec.update({"workload": a.workload, "seed": a.seed, "scale": a.scale})
    with open(f"{a.out}/spec.json", "w") as f:
        json.dump(spec, f)
    open(f"{a.out}/DONE", "w").close()
    print(json.dumps({"bench.gen_s": round(time.time() - t0, 3), "reused": False}))


if __name__ == "__main__":
    sys.exit(main())
