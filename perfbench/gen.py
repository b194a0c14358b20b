"""Seeded generator of the benchmark's input tables.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file each)
with the schemas, row counts and value distributions of the engine's sf0.1
test data, drawn from `numpy.random.default_rng(seed)`. The same seed gives
byte-identical files.

The shapes follow the seed-42 sf0.1 tables as they are read today, which
differ from some notes in FIXTURES.md: every timestamp column is
`timestamp[us]` (dates at midnight, event times with µs digits), lineitem
draws `l_orderkey` and `l_linenumber` independently (about 457k distinct
pairs in 600k rows, not a unique key), and embeddings are unit vectors
(per-value standard deviation 1/8). NOTES.md lists the comparison.

Usage: python3 perfbench/gen.py <seed> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000,
        "documents": 5_000, "embeddings": 2_000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64
US_PER_DAY = 86_400_000_000


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return (base + rng.integers(0, n_days, n) * US_PER_DAY).astype("datetime64[us]")


def _table(cols):
    return pa.table({k: pa.array(v) if not isinstance(v, pa.Array) else v
                     for k, v in cols.items()})


def _int32(a):
    return pa.array(np.asarray(a, dtype=np.int32))


def _names(prefix, n):
    return np.array([f"{prefix}#{i:09d}" for i in range(n)], dtype=object)


def customer(rng, n):
    return _table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": _names("Customer", n),
        "c_nationkey": _int32(rng.integers(0, 25, n)),
        "c_acctbal": _money(rng, -1000, 10000, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})


def documents(rng, n):
    texts = []
    for _ in range(n):
        texts.append(" ".join(_pick(rng, WORDS, int(rng.integers(10, 101)))))
    # Near-duplicates: 5% of documents repeat an earlier document's text
    # with a trailing marker word, which the dedup/near-dup keys look for.
    for i in rng.choice(np.arange(n // 2, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))] + " dup"
    texts = np.array(texts, dtype=object)
    return _table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": np.array([f"src{i % 20}" for i in range(n)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, n):
    x = rng.standard_normal((n, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return _table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(x.reshape(-1)), DIM).cast(pa.list_(pa.float32())),
        "label": _int32(rng.integers(0, 10, n))})


def sf01(rng):
    n = ROWS
    nation = _table({
        "n_nationkey": _int32(np.arange(25)),
        "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
        "n_regionkey": _int32(np.arange(25) % 5)})
    region = _table({"r_regionkey": _int32(np.arange(5)),
                     "r_name": np.array(REGIONS, dtype=object)})
    supplier = _table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": _int32(rng.integers(0, 25, n["supplier"])),
        "s_acctbal": _money(rng, -1000, 10000, n["supplier"])})
    pk = np.arange(n["part"], dtype=np.int64)
    part = _table({
        "p_partkey": pk,
        "p_name": np.array([f"{a} {b}" for a, b in zip(
            _pick(rng, ADJ, n["part"]), _pick(rng, NOUN, n["part"]))], dtype=object),
        "p_brand": np.array([f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
                            dtype=object),
        "p_type": _pick(rng, PTYPES, n["part"]),
        "p_size": _int32(rng.integers(1, 51, n["part"])),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    orders = _table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n["orders"]),
        "o_orderpriority": _pick(rng, PRIORITIES, n["orders"])})
    m = n["lineitem"]
    lineitem = _table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": _int32(rng.integers(1, 8, m)),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, m),
        "l_discount": np.round(rng.uniform(0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, m), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", 2498, m)})
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * US_PER_DAY, e))
    events = _table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n["customer"] // 10, e),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
                          dtype=object)})
    return {"region": region, "nation": nation,
            "customer": customer(rng, n["customer"]), "supplier": supplier,
            "part": part, "orders": orders, "lineitem": lineitem,
            "events": events, "documents": documents(rng, n["documents"]),
            "embeddings": embeddings(rng, n["embeddings"])}


def generate(seed, out_dir):
    """Write the tables for seed under out_dir, once: a finished directory
    carries a `_DONE` marker and is reused as is."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    tables = sf01(np.random.default_rng(seed))
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    open(os.path.join(out_dir, "_DONE"), "w").close()
    return out_dir


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2])
