"""Seeded input generator for the benchmark.

Every table a workload reads is synthesised here from `--seed`, in the
shape of the project's TPC-H-like testdata (see FIXTURES.md at the
repository root): same column names, parquet types and value domains,
scaled by `sf` (sf 0.01 gives 60,000 lineitem rows). The same seed and
scale always give byte-identical tables and serving plans.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "es", "fr"]
WORDS = ("query row stream the spark line small fast group customer part "
         "column order scan a slow agg key window table merge vector join "
         "batch sort value hash filter big data").split()

FORMATS = ["graft", "delta", "iceberg"]


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _ts_us(days_from, days_span, rng, n, midnight):
    base = int(dt.datetime(*days_from, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    if midnight:
        return base + rng.integers(0, days_span, n) * 86_400_000_000
    return base + rng.integers(0, days_span * 86_400_000_000, n)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def star_tables(seed, sf, out_dir):
    """region, nation, customer, part, orders, lineitem."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")
    r = _rng(seed, 1)
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(SEGMENTS, n_cust)}),
        f"{out_dir}/customer.parquet")
    r = _rng(seed, 2)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in
                   zip(r.choice(ADJ, n_part), r.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(PTYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out_dir}/part.parquet")
    r = _rng(seed, 3)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_ts_us((1995, 1, 1), 2404, r, n_ord, True),
                                pa.timestamp("us")),
        "o_orderpriority": r.choice(PRIORITIES, n_ord)}),
        f"{out_dir}/orders.parquet")
    r = _rng(seed, 4)
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, max(1, int(10_000 * sf)), n_li),
                              pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 100000.0, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(_ts_us((1995, 1, 2), 2499, r, n_li, True),
                               pa.timestamp("us"))}),
        f"{out_dir}/lineitem.parquet")


def curation_tables(seed, sf, out_dir):
    """documents (with near-duplicate clusters), orders, events."""
    os.makedirs(out_dir, exist_ok=True)
    n_docs, n_ev = int(50_000 * sf), int(1_000_000 * sf)
    n_users, n_ord = max(10, int(15_000 * sf)), int(1_500_000 * sf)
    r = _rng(seed, 5)
    texts, originals = [], []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.08:
            # near-duplicate of an earlier original: one word swapped and a
            # marker appended, so its 3-shingle Jaccard stays >= 0.7 and
            # every cluster is a star (the same connected-components
            # round count for every seed)
            ws = texts[originals[int(r.integers(0, len(originals)))]].split(" ")
            ws[int(r.integers(0, len(ws)))] = WORDS[int(r.integers(0, len(WORDS)))]
            ws.append("dup")
        else:
            originals.append(i)
            ws = list(r.choice(WORDS, int(r.integers(10, 101))))
        texts.append(" ".join(ws))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": r.choice(LANGS, n_docs),
        "source": [f"src{s}" for s in r.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")
    r = _rng(seed, 6)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, int(150_000 * sf), n_ord), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_ts_us((1995, 1, 1), 2404, r, n_ord, True),
                                pa.timestamp("us")),
        "o_orderpriority": r.choice(PRIORITIES, n_ord)}),
        f"{out_dir}/orders.parquet")
    r = _rng(seed, 7)
    ts = np.sort(_ts_us((2024, 1, 1), 30, r, n_ev, False))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": r.choice(EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet")


def serving_plan(seed, n_ops):
    """Dashboard refreshes: every block of three holds each format once,
    in seeded order, each with a seeded country for the top-states
    worksheet. The other worksheet parameters are fixed, as in the
    reference dashboard (see MartServing in Workloads.scala)."""
    r = _rng(seed, 8)
    countries = [x.lower() for x in REGIONS]
    ops = []
    while len(ops) < n_ops:
        for f in r.permutation(FORMATS):
            ops.append({"format": str(f), "country": str(r.choice(countries))})
    return ops[:n_ops]


def serving_warmup():
    """Warm-up refreshes, the same for every seed: every (format,
    country) pair once. Refresh times still fell by a fifth over the
    first 15 or so refreshes after set-up; Spark also compiles a query's
    literals into its generated code, so a new country may be a new
    class until it has run."""
    countries = [x.lower() for x in REGIONS]
    n = len(FORMATS) * len(countries)  # coprime counts: every pair once
    return [{"format": FORMATS[i % len(FORMATS)], "country": countries[i % len(countries)]}
            for i in range(n)]
