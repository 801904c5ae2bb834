"""Seeded tables for the registry_batch workload.

The shapes follow graft's test tables (TESTDATA.md): a TPC-H-like star
schema, an `events` stream, `documents` (with near-duplicates) and
`embeddings` (64-d unit vectors around ten label centroids). Sizes sit
near sf0.01 so the fixed per-job cost of each entry dominates and one
pass over the registry fits a 4-core run.
Timestamps are parquet timestamp[us] without a zone, as in the test
tables. A variant number picks the random stream; the same variant
always gives the same bytes, so recorded result digests stay valid.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VARIANTS = 4

SIZES = dict(customer=1000, supplier=60, part=1200, orders=10000,
             lineitem=40000, events=10000, users=120, documents=600,
             embeddings=500)

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["blue", "red", "green", "black", "white", "small", "large", "shiny"]
NOUNS = ["anvil", "ring", "widget", "gear", "bolt", "spring", "valve", "lamp"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(start, n_days, rng, size):
    """Midnight timestamps on `size` random days from `start`."""
    day = rng.integers(0, n_days, size).astype("timedelta64[D]")
    t = np.datetime64(start, "us") + day.astype("timedelta64[us]")
    return pa.array(t, type=pa.timestamp("us"))


def tables(variant):
    rng = np.random.default_rng(1000 + variant)
    s = SIZES
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(NATIONS)], pa.int32())})
    n = s["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, NATIONS, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)]})
    n = s["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, NATIONS, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)})
    n = s["part"]
    price = np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": price})
    n = s["orders"]
    odate = _days("1995-01-01", 2404, rng, n)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s["customer"], n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": odate,
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)]})
    n = s["lineitem"]
    okey = np.sort(rng.integers(0, s["orders"], n))
    pkey = rng.integers(0, s["part"], n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    odates = np.array(odate.to_numpy(zero_copy_only=False), dtype="datetime64[us]")
    ship = odates[okey] + rng.integers(1, 122, n).astype("timedelta64[D]")
    lineno = np.ones(n, dtype=np.int32)
    same = np.concatenate([[False], okey[1:] == okey[:-1]])
    for i in range(1, n):
        if same[i]:
            lineno[i] = min(7, lineno[i - 1] + 1)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey] + rng.uniform(0, 1, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    n = s["events"]
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86400 * 10**6, n).astype("timedelta64[us]"))
    out["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s["users"], n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.01, 500.0, n), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)]})
    n = s["documents"]
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, len(texts)))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(10, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    n = s["embeddings"]
    centroids = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n)
    v = centroids[labels] + rng.normal(0, 0.6, (n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write_tables(directory, variant):
    os.makedirs(directory, exist_ok=True)
    for name, t in tables(variant).items():
        pq.write_table(t, os.path.join(directory, f"{name}.parquet"))
