"""Synthetic TPC-H-shaped corpus for the Spark workloads.

The tables have the schema and row counts of the sf0.1 test corpus the
SparkPlanner registry is written against (customer 15k, orders 150k,
lineitem 600k, part 20k, supplier 1k, documents 5k, embeddings 2k), one row
group per file. The corpus is fixed (DATA_SEED) so every run of every seed
measures the same data; the workload seed only picks the query constants.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261017
DATA_VERSION = "v1"

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["large", "hot", "small", "blue", "green", "red", "steel", "brass", "tin", "copper"]
NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "washer", "screw", "pin"]
TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
# Document vocabulary, most frequent first; term frequencies follow 1/rank,
# so the head words occur in most documents (BM25 idf 0) and the tail words
# in a few percent of them.
VOCAB = (
    "spark data scan sort group query row table join value key filter hash "
    "stream window merge batch line column order part vector small big fast "
    "slow agg index plan shuffle cache codegen stage task driver executor "
    "parquet schema record graph edge node path depth frontier match score "
    "token stem phrase prefix ranking posting segment ngram shingle minhash "
    "simhash cosine euclid centroid cluster bucket probe recall"
).split()

N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM = 150_000, 600_000
N_DOCS, N_VECS, DIM = 5_000, 2_000, 64
EPOCH_1992 = np.datetime64("1992-01-01", "us")
DAY_US = 86_400_000_000


def _write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n):
    days = rng.integers(0, 2400, n)
    return (EPOCH_1992 + days * np.timedelta64(DAY_US, "us")).astype("datetime64[us]")


def generate(out):
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out, exist_ok=True)
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    adj, noun = np.array(ADJ), np.array(NOUN)
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 10, N_PART)], " "),
                              noun[rng.integers(0, 10, N_PART)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 51, N_PART).astype(str)),
        "p_type": np.array(TYPES)[rng.integers(0, len(TYPES), N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": _money(rng, 900.0, 2100.0, N_PART)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 900.0, 500_000.0, N_ORDERS),
        "o_orderdate": pa.array(_dates(rng, N_ORDERS), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": pa.array(_dates(rng, N_LINEITEM), pa.timestamp("us"))})
    weights = 1.0 / np.arange(1, len(VOCAB) + 1)
    weights /= weights.sum()
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.choice(len(VOCAB), rng.integers(10, 61), p=weights)])
             for _ in range(N_DOCS)]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, N_DOCS)],
        "source": np.char.add("src", rng.integers(0, 20, N_DOCS).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.normal(0.0, 0.1, (N_VECS, DIM)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32())})


def ensure(root):
    """Return the corpus directory under `root`, generating it on first use.
    Generation writes a staging directory and renames it into place, so an
    interrupted run never leaves a partial corpus behind."""
    final = os.path.join(root, DATA_VERSION)
    if os.path.isdir(final):
        return final
    staging = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    generate(staging)
    try:
        os.rename(staging, final)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        if not os.path.isdir(final):
            raise
    return final
