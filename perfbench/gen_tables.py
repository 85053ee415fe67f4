"""Seeded generator for the ten parquet tables graft's query keys read.

The shapes follow the synthetic test tables the engine is developed
against: a TPC-H-like star schema (region, nation, customer, supplier,
part, orders, lineitem), a time-sorted `events` table, a `documents`
corpus of short texts over a 30-word vocabulary with about 5% planted
near-duplicates, and 64-dimensional unit `embeddings` with ten weak
clusters.

The query workloads use one fixed table seed so that their expected
results can be computed once with DuckDB and stored (expected.json);
`fingerprint` detects a generator whose output has drifted from that.
"""
import datetime as dt
import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
ADJ = "blue hot small old red new cold green".split()
NOUN = "bolt gear anvil ring widget rod plate".split()
EPOCH = dt.datetime(1970, 1, 1)
DAY_US = 86_400_000_000


def _us(d):
    return (d - EPOCH) // dt.timedelta(microseconds=1)


def _ts(micros):
    return pa.array(np.asarray(micros, dtype=np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build(sf, seed=TABLE_SEED):
    """Return {table name: pyarrow.Table} for scale factor `sf`."""
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})

    n_cust = max(150, int(150_000 * sf))
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust)})

    n_supp = max(10, int(10_000 * sf))
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})

    n_part = max(200, int(200_000 * sf))
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": [f"Brand#{a}{b}" for a, b in zip(
            rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})

    n_ord = max(1500, int(1_500_000 * sf))
    first, last = _us(dt.datetime(1995, 1, 1)), _us(dt.datetime(2001, 8, 1))
    odate = first + rng.integers(0, (last - first) // DAY_US + 1, n_ord) * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 400000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})

    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * DAY_US)})

    n_ev = max(1000, int(1_000_000 * sf))
    start = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(start + rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": _money(rng, 0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    n_doc = 500 if sf <= 0.01 else int(50_000 * sf)
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if rng.random() < 0.5 else src.rsplit(" ", 1)[0])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(12, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], n_doc,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})

    n_vec = 500 if sf <= 0.01 else int(20_000 * sf)
    dim, k = 64, 10
    centroids = rng.normal(0.0, 1.0, (k, dim))
    centroids *= 0.14 / np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, k, n_vec)
    x = centroids[label] + rng.normal(0.0, 0.125, (n_vec, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return t


def fingerprint(tables):
    """sha256 over every table's Arrow IPC bytes, in TABLES order."""
    h = hashlib.sha256()
    for name in TABLES:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write(tables, out_dir):
    """One single-row-group parquet file per table, like the test tables."""
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
