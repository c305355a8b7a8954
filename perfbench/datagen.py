"""Deterministic inputs for the benchmark.

`make_sf01(seed, dst)` writes the ten parquet tables the engine reads
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) at the sf0.1 shape: the same schema, physical
types, row counts and value domains as the sf0.1 test fixture
(FIXTURES.md section B), drawn from a numpy generator seeded by `seed`.

`make_x10(src, dst)` replicates an sf0.1 directory ten times with the
`tools/make_sfx.py` rules: facts and dimensions grow linearly, each
replica's keys are shifted by the table's max key + 1, nation and region
stay fixed, and documents/embeddings are copied unscaled.

Both write one file per table, so the same seed gives byte-identical
files. sf0.1 tables are one row group each, as in the fixture.
"""
import datetime
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "new", "large", "small", "green", "old"]
PART_NOUN = ["ring", "bolt", "anvil", "widget", "gear", "nut", "spring", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _write(table, path, row_group_size=1 << 20):
    pq.write_table(table, path, row_group_size=row_group_size)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first, last, n):
    """Midnight timestamps drawn uniformly from [first, last]."""
    span = (last - first).days + 1
    base = np.datetime64(first.isoformat(), "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _label(prefix, keys):
    return [f"{prefix}#{k:09d}" for k in keys]


def make_sf01(seed, dst):
    rng = np.random.default_rng(seed)
    n = SF01_ROWS
    os.makedirs(dst, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()

    def put(name, cols):
        _write(pa.table(cols), os.path.join(dst, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), i32),
                   "r_name": REGIONS})
    put("nation", {"n_nationkey": pa.array(range(25), i32),
                   "n_name": [f"NATION_{k}" for k in range(25)],
                   "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    ck = np.arange(n["customer"])
    put("customer", {
        "c_custkey": pa.array(ck, i64), "c_name": _label("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, ck.size), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, ck.size),
        "c_mktsegment": rng.choice(SEGMENTS, ck.size)})
    sk = np.arange(n["supplier"])
    put("supplier", {
        "s_suppkey": pa.array(sk, i64), "s_name": _label("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, sk.size), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, sk.size)})
    pk = np.arange(n["part"])
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    put("part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": rng.choice(names, pk.size),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, pk.size)],
        "p_type": rng.choice(PART_TYPES, pk.size),
        "p_size": pa.array(rng.integers(1, 51, pk.size), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    ok = np.arange(n["orders"])
    put("orders", {
        "o_orderkey": pa.array(ok, i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], ok.size), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], ok.size),
        "o_totalprice": _money(rng, 1000.0, 500000.0, ok.size),
        "o_orderdate": _days(rng, datetime.date(1995, 1, 1),
                             datetime.date(2001, 8, 1), ok.size),
        "o_orderpriority": rng.choice(PRIORITIES, ok.size)})
    m = n["lineitem"]
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, datetime.date(1995, 1, 2),
                            datetime.date(2001, 11, 4), m)})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86400 * 10**6
    put("events", {
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(start + np.sort(rng.integers(0, month_us, e)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, e), i64),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    # documents: uniform token soup; 5% are an earlier doc plus " dup"
    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            toks = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(toks))
    put("documents", {
        "doc_id": pa.array(np.arange(d), i64), "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # embeddings: unit vectors with a weak per-label centroid
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centroids = rng.normal(0.0, 0.07, (10, 64))
    x = rng.normal(0.0, 1.0, (v, 64)) / 8.0 + centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(v), i64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


# table -> [(column, table whose max key + 1 is the per-replica shift)]
X_SHIFTS = {
    "customer": [("c_custkey", "customer")],
    "supplier": [("s_suppkey", "supplier")],
    "part": [("p_partkey", "part")],
    "orders": [("o_orderkey", "orders"), ("o_custkey", "customer")],
    "lineitem": [("l_orderkey", "orders"), ("l_partkey", "part"),
                 ("l_suppkey", "supplier")],
    "events": [("event_id", "events"), ("user_id", "customer")],
}
KEY_OF = {"customer": "c_custkey", "supplier": "s_suppkey",
          "part": "p_partkey", "orders": "o_orderkey", "events": "event_id"}


def make_x10(src, dst, n=10):
    os.makedirs(dst, exist_ok=True)
    read = {t: pq.read_table(os.path.join(src, f"{t}.parquet"))
            for t in X_SHIFTS}
    step = {t: int(pc.max(read[t][k]).as_py()) + 1
            for t, k in KEY_OF.items()}
    for t, shifts in X_SHIFTS.items():
        base = read[t]
        parts = []
        for i in range(n):
            cols = {}
            for name in base.column_names:
                col = base[name]
                for c, by in shifts:
                    if c == name:
                        col = pc.add(col, pa.scalar(step[by] * i, col.type))
                cols[name] = col
            parts.append(pa.table(cols))
        # DuckDB-sized row groups, as make_sfx.py writes them, so a scan
        # splits across cores
        _write(pa.concat_tables(parts), os.path.join(dst, f"{t}.parquet"),
               row_group_size=122880)
    for t in ["region", "nation", "documents", "embeddings"]:
        shutil.copyfile(os.path.join(src, f"{t}.parquet"),
                        os.path.join(dst, f"{t}.parquet"))
