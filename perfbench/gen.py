"""Seeded parquet inputs for the query workloads.

Every table is a pure function of the seed (numpy PCG64 streams, one per
table), written as one parquet file per table at <dir>/<table>.parquet:
the layout, column names, types and value domains of the graded `sfX`
fixtures (FIXTURES.md), so `SparkEntry` ops and the DuckDB oracle read the
generated files exactly as they read the fixtures.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed, table):
    return np.random.Generator(np.random.PCG64([seed, sum(map(ord, table))]))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, start, days):
    base = np.datetime64(start, "ms")
    return pa.array(base + rng.integers(0, days, n).astype("timedelta64[D]"),
                    pa.timestamp("ms"))


def _pick(rng, n, values):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def tpch(out, seed, sf):
    """TPC-H-shaped star schema; `sf` scales rows as TPC-H does (sf 0.01 =
    60,000 lineitems, the graded sf0.01 fixture's size)."""
    n = lambda base: max(1, round(base * sf))  # noqa: E731
    n_supp, n_cust, n_part = n(10000), n(150000), n(200000)
    n_ord, n_line = n(1500000), n(6000000)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = _rng(seed, "supplier")
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.integers(-99999, 1000000, n_supp) / 100, 2)})
    r = _rng(seed, "customer")
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.integers(-99999, 1000000, n_cust) / 100, 2),
        "c_mktsegment": _pick(r, n_cust, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                          "HOUSEHOLD", "MACHINERY"])})
    r = _rng(seed, "part")
    adj = np.array(["blue", "old", "red", "small", "new", "hot", "large", "cold"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"])
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                                       noun[r.integers(0, 8, n_part)]).astype(object)),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": _pick(r, n_part, ["ECONOMY", "STANDARD", "LARGE", "SMALL",
                                    "MEDIUM", "PROMO"]),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900 + r.integers(0, 1000, n_part) / 10})
    r = _rng(seed, "orders")
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(r, n_ord, ["O", "F", "P"]),
        "o_totalprice": np.round(1000 + r.integers(0, 49900000, n_ord) / 100, 2),
        "o_orderdate": _days(r, n_ord, "1995-01-01", 2404),
        "o_orderpriority": _pick(r, n_ord, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"])})
    r = _rng(seed, "lineitem")
    _write(out, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(900 + r.integers(0, 10410000, n_line) / 100, 2),
        "l_discount": r.integers(0, 11, n_line) / 100,
        "l_tax": r.integers(0, 9, n_line) / 100,
        "l_returnflag": _pick(r, n_line, ["A", "N", "R"]),
        "l_linestatus": _pick(r, n_line, ["O", "F"]),
        "l_shipdate": _days(r, n_line, "1995-01-02", 2498)})


def corpus(out, seed, n_docs, n_vecs):
    """The Zipf-vocabulary twin corpus (the shape of
    graft.examples.ScaleFixture.documentsZipf / embeddings, re-drawn from the
    seed): 80-219 tokens per document with token rank from a continuous
    Zipf(s=1) over a 30k vocabulary, every 10th document a ~0.95-Jaccard
    near-copy of the one 9 ids earlier; 64-dim embeddings around 32
    cluster centres, every 20th a near-copy (cos ~ 1) of the one 19 ids
    earlier."""
    r = _rng(seed, "documents")
    texts = []
    for d in range(n_docs):
        if d % 10 == 9:  # near-copy: a doc-unique token at every 37th slot
            toks = texts[d - 9].split(" ")
            toks = [f"u{d}_{i}" if i % 37 == 0 else t
                    for i, t in enumerate(toks, start=1)]
        else:
            ranks = np.exp(r.random(int(r.integers(80, 220))) * np.log(30000.0))
            toks = [f"w{int(k)}" for k in ranks]
        texts.append(" ".join(toks))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _pick(r, n_docs, ["en", "en", "en", "de", "fr", "es", "zh"]),
        "source": pa.array([f"src{s}" for s in r.integers(0, 16, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    r = _rng(seed, "embeddings")
    centres = r.uniform(-1, 1, (32, 64))
    labels = r.integers(0, 32, n_vecs)
    vecs = centres[labels] + r.uniform(-0.05, 0.05, (n_vecs, 64))
    for v in range(19, n_vecs, 20):
        labels[v] = labels[v - 19]
        vecs[v] = vecs[v - 19] + r.uniform(-0.005, 0.005, 64)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def generate(workload, out, seed):
    """Writes the inputs of `workload` (none for the workloads that make
    theirs in the JVM)."""
    os.makedirs(out, exist_ok=True)
    if workload == "olap_tpch":
        tpch(out, seed, OLAP_SF)
    elif workload == "dedup_search":
        corpus(out, seed, DEDUP_DOCS, DEDUP_VECS)


# 60,000 lineitems, as the graded sf0.01 fixture: every query is scheduler-
# and planner-bound, as the full 558-op suite is at sf0.1.
OLAP_SF = 0.01
DEDUP_DOCS = 2000
DEDUP_VECS = 1000
