"""Seeded generator for the star-schema tables the snapshot phase and the
training gates read: region, nation, customer, supplier, part, orders,
lineitem, events, documents and embeddings, one parquet file each.

`scale=1.0` gives the sf0.1 row counts (893,030 rows over 10 tables) with
the same column names, types and value ranges as the repository's sf0.1
test data; smaller scales shrink every table but region and nation. The
same (seed, scale) always yields the same rows.

`documents` is the exception to per-seed variety: it is one of
`len(DOC_SEEDS)` fixed variants, chosen by the seed. The DuckDB oracles of
the dedup gates that read it take minutes at this size, so their results
for each variant ship with the benchmark (see run.py).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = "blue cold hot large old red small tiny".split()
PART_NOUN = "bolt gear nut pipe plate ring screw valve".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DOC_SEEDS = (90001, 90002)

# sf0.1 row counts of the scaled tables
ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "events": 100000,
        "documents": 5000, "embeddings": 2000}


def _days(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def _money(x):
    return np.round(x, 2)


def tables(seed, scale=1.0):
    """Build every table as a pyarrow Table, keyed by name."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = {k: max(10, int(round(v * scale))) for k, v in ROWS.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, c)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)]})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, s))})
    p = n["part"]
    names = np.char.add(np.char.add(
        np.array(PART_ADJ)[rng.integers(0, 8, p)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, p)])
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": _money(900.0 + (np.arange(p) % 1000) / 10.0)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng.uniform(1000.0, 400000.0, o)),
        "o_orderdate": _days(rng, o, "1995-01-01", 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)]})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * rng.uniform(900.0, 5000.0, li)),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, li, "1995-01-02", 2498)})
    e = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, e)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, e),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": _money(rng.exponential(50.0, e)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    out["documents"] = documents(DOC_SEEDS[seed % len(DOC_SEEDS)],
                                 n["documents"])
    m = n["embeddings"]
    v = rng.standard_normal((m, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m).astype(np.int32))})
    return out


def documents(seed, d):
    rng = np.random.Generator(np.random.PCG64(seed))
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 101, d)]
    for i in rng.choice(d, size=max(1, d // 600), replace=False):
        texts[i] = texts[(i + 1) % d]  # a few exact duplicates
    return pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def write(out_dir, seed, scale=1.0):
    """Write every table as `<out_dir>/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
