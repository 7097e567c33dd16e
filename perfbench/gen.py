"""Seeded input generator owned by the benchmark.

The ten tables have the shapes of `scripts/gen_testdata.py` (the same
schema, key ranges and distributions), but every draw comes from
`numpy.random.default_rng(seed)`, so each benchmark seed gets its own
inputs and the same seed always gets the same bytes.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "fr", "de"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = np.int64(86_400_000_000)


def _ts(arr):
    return pa.array(arr, type=pa.timestamp("us"))


def tables(sf, seed):
    """Yield (name, pyarrow.Table) for every fixture table."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_user = max(15, int(15_000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int64()), "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int64()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int64())})
    yield "customer", pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer_{i}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"])[rng.integers(0, 5, n_cust)]})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier_{i}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)})
    yield "part", pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 6)])[
            rng.integers(0, 5, n_part)],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE",
                            "ECONOMY", "PROMO"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2)})

    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + (rng.integers(0, 2405, n_ord)
                    * DAY_US).astype("timedelta64[us]")
    yield "orders", pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[
            rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
             "5-LOW"])[rng.integers(0, 5, n_ord)]})

    nlines = 1 + rng.poisson(3.0, n_ord)
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), nlines)
    n_li = lok.size
    lno = np.arange(n_li) - np.repeat(np.cumsum(nlines) - nlines, nlines)
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lno % 7 + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["R", "N", "A"])[
            rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odate, nlines)
                          + (rng.integers(1, 121, n_li) * DAY_US)
                          .astype("timedelta64[us]"))})

    ev0 = np.datetime64("2024-01-01", "us")
    yield "events", pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(ev0 + rng.integers(
            0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": np.array(["view", "click", "purchase", "signup",
                                "error"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    lang_p = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
    nw = rng.integers(8, 97, n_doc)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in nw]
    yield "documents", pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=lang_p)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    cents = rng.uniform(-0.25, 0.25, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (cents[labels]
            + rng.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def version_key():
    """A short digest of this generator and the libraries its bytes depend
    on, so that a change to either never reuses inputs (or the oracle
    results cached beside them) made by the old one."""
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as fh:
        h.update(fh.read())
    h.update(f"numpy={np.__version__} pyarrow={pa.__version__}".encode())
    return h.hexdigest()[:12]


def ensure(root, sf, seed):
    """The parquet directory for (sf, seed) under `root`, generated once
    per version of the generator."""
    out = os.path.join(root, f"sf{sf}-seed{seed}-{version_key()}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf, seed):
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)
    return out


def digests(sf_dir):
    """sha256 of every table's rows (as Arrow IPC), keyed by table name."""
    out = {}
    for name in sorted(f[:-len(".parquet")] for f in os.listdir(sf_dir)
                       if f.endswith(".parquet")):
        sink = pa.BufferOutputStream()
        table = pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        out[name] = hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()
    return out
