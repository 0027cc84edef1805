"""Seeded input generator and stager for the benchmark.

`generate(dir)` writes the ten fixture tables graft reads (TPC-H-shaped
star schema, an event stream, a text corpus and an embedding table) as
one single-row-group parquet file each, with the same column names,
physical types, row counts and value distributions as the repository's
test fixtures at sf0.001 (the corpus tables have the same size at sf0.01).
Table contents come from a fixed content seed, so every run sees the same rows:
graft's results are meant to be layout-independent, and the oracle
compares them row for row.

`stage(src, dst, nfiles, seed)` then spreads each table over `nfiles`
parquet files.  The workload seed decides which file each row lands in,
so a seed changes the physical layout (file sizes, split boundaries, task
inputs) but never the logical table.  Real sources arrive in many splits;
a single-row-group file would make every scan one task.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# row counts of the sf0.001 fixtures
N_CUSTOMER, N_SUPPLIER, N_PART = 150, 10, 200
N_ORDERS, N_LINEITEM, N_EVENTS = 1500, 6000, 1000
N_USERS, N_DOCS, N_VECS, DIM = 15, 500, 500, 64

WORDS = ("a the data table row column key value query join group order sort "
         "filter scan merge batch stream window agg hash part line customer "
         "spark vector big small fast slow").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng) -> pa.Table:
    # doc lengths uniform over 10..99 words; one doc in twenty is another
    # doc with " dup" appended (MinHash near-duplicate clusters), as in
    # the repository's test fixtures
    texts = [" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), int(n)))
             for n in rng.integers(10, 100, N_DOCS)]
    dups = rng.choice(N_DOCS, N_DOCS // 20, replace=False)
    originals = np.setdiff1d(np.arange(N_DOCS), dups)
    for i in dups:
        texts[i] = texts[int(rng.choice(originals))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, 10, N_VECS)
    # unit-normalised Gaussian vectors, no planted near-copies, as in the
    # test fixtures: SemDeDup prunes by cluster-relative similarity
    v = rng.normal(0, 1, (N_VECS, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def tables() -> dict:
    rng = np.random.default_rng(CONTENT_SEED)
    day = 86_400_000_000
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], N_CUSTOMER)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    adj = ["small", "large", "red", "blue", "cold", "old", "new"]
    noun = ["ring", "widget", "bolt", "rod", "anvil", "gizmo", "plate"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(N_PART)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1),
                           rng.integers(0, 2404, N_ORDERS) * day),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["O", "F"], N_LINEITEM),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                          rng.integers(0, 2498, N_LINEITEM) * day)})
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1),
                  np.sort(rng.integers(0, 30 * day, N_EVENTS))),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": rng.choice(["view", "click", "signup", "purchase",
                                  "error"], N_EVENTS),
        "value": np.round(rng.exponential(60.0, N_EVENTS) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def generate(dst: str) -> None:
    """One single-row-group parquet file per table: `dst/<table>.parquet`."""
    os.makedirs(dst, exist_ok=True)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(dst, f"{name}.parquet"))


def stage(src: str, dst: str, nfiles: int, seed: int) -> None:
    """Spread each table of `src` over `nfiles` parquet files in
    `dst/<table>.parquet/`; the seed assigns rows to files."""
    rng = np.random.default_rng(seed)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        out = os.path.join(dst, f"{name}.parquet")
        os.makedirs(out)
        which = rng.integers(0, nfiles, t.num_rows)
        for f in range(nfiles):
            idx = np.flatnonzero(which == f)
            if len(idx):
                pq.write_table(t.take(pa.array(idx)),
                               os.path.join(out, f"part-{f:05d}.parquet"))
