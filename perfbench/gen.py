#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten tables the program reads (region nation customer supplier
part orders lineitem events documents embeddings), one parquet file each,
with the schemas and value distributions measured on the sf tables the
program is tested on (`perfbench/profile.py` prints both side by side):
uniform keys, TPC-H-like order/lineitem columns, 30 days of events with
sorted timestamps; documents of 10-100 words drawn uniformly from a
30-word ASCII vocabulary, languages en 40% and de/es/fr/zh 15% each,
source `src<doc_id % 20>`, and 5% of the rows rewritten as another row
plus a trailing " dup" token; unit-norm 64-d float embeddings with ten
uniform labels and no cluster structure.

The relational scale is `sf` (lineitem = 6M x sf rows); documents and
embeddings are sized separately so a workload can sit on either side of
the program's 2 MB rebalance gate (`Tables.RebalanceMinBytes`).

Usage:
    perfbench/gen.py --workload corpus --seed 7
regenerates the inputs and the DuckDB oracle results of one workload and
seed into the cache (see run.py).
"""
import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
ADJ = "large hot blue old cold red new small".split()
NOUN = "ring bolt plate gear widget anvil rod gizmo".split()
TYPES = "LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
PRIORITIES = "1-URGENT 2-HIGH 3-MEDIUM 4-NOT SPECIFIED 5-LOW".split()
EVENT_TYPES = "signup click error view purchase".split()
US_PER_DAY = 86_400_000_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start, n_days, rng, n):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, n_days, n) * US_PER_DAY).astype("timedelta64[us]")


def relational(out, rng, sf):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_user = int(1_500_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    n_line = 4 * n_ord
    i32, i64 = pa.int32(), pa.int64()
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days("1995-01-01", 2405, rng, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days("1995-01-02", 2499, rng, n_line)})
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), i64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def corpus(out, rng, n_docs, n_emb):
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n_docs)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    # near-duplicates: 5% of the rows become another row's text plus a
    # " dup" token, in place, so two of them sharing a stem are exact
    # copies and a stem rewritten later is lost, as in the sf tables
    for i, j in zip(rng.choice(n_docs, n_docs // 20, replace=False),
                    rng.integers(0, n_docs, n_docs // 20)):
        texts[i] = texts[j] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def generate(out, seed, sf, n_docs, n_emb):
    """All ten tables for one seed; the same seed gives the same bytes."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 0x6a7f])
    relational(out, rng, sf)
    corpus(out, rng, n_docs, n_emb)


if __name__ == "__main__":
    import argparse
    import run
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    print(run.prepare(a.workload, a.seed, force=True))
