"""Deterministic sf0.01-shaped fixture generator for the benchmark.

Writes the ten tables `graft.Tables` reads (star schema, events, documents,
embeddings) as single parquet files with the same column names, physical
types and row counts as the sf0.01 test fixtures, and value domains that
follow FIXTURES.md: five market segments, a 30-word engine vocabulary with
planted exact and near-duplicate documents, sorted event timestamps, and so
on. sf0.01, not sf0.1: a one-client pass at sf0.1 takes 10-14 s on a 4-core
machine, too long to get a median over several passes within a run.

The data depends only on GENERATOR_SEED, so the checksums pinned in
expected.json hold for every workload seed; the workload seed only orders
the queries.

Usage: python3 perfbench/gendata.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days_from(start, rng, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def tables(rng):
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = 1_500
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})
    n = 100
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})
    n = 2_000
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1)})
    n = 15_000
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 1_500, n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": money(rng, 1000, 500_000, n),
        "o_orderdate": pa.array(days_from("1995-01-01", rng, 2405, n), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})
    n = 60_000
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105_000, n),
        "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(days_from("1995-01-02", rng, 2499, n), pa.timestamp("us"))})
    n = 10_000
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    out["documents"] = documents(rng, 500)
    n, dim = 500, 64
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    vecs = (centers[labels] + rng.normal(0, 0.3, (n, dim))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def documents(rng, n):
    """Synthetic prose over VOCAB, 10..100 words per document, with n/20
    near duplicates (another document plus the word "dup", as in the test
    fixtures) and n/250 exact duplicates planted at random positions."""
    lens = rng.integers(10, 101, n)
    text = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)]) for k in lens]
    n_near, n_exact = n // 20, n // 250
    ids = rng.permutation(n)
    near, exact = ids[:n_near], ids[n_near:n_near + n_exact]
    srcs = ids[n_near + n_exact:2 * (n_near + n_exact)]
    for t, s in zip(near, srcs[:n_near]):
        text[t] = text[s] + " dup"
    for t, s in zip(exact, srcs[n_near:]):
        text[t] = text[s]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())})


def main(out_dir):
    rng = np.random.default_rng(GENERATOR_SEED)
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, t in tables(rng).items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 20)
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: gendata.py <out_dir>")
    main(sys.argv[1])
