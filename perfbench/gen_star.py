"""Seeded star-schema tables for the catalog workloads.

Writes the ten tables the catalog reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one
parquet file each, with the column names, types, value domains and
row counts per scale factor of the catalog's test data. At ``sf=0.01``
that is 1,500 customers, 15,000 orders and 60,000 line items.

:func:`replicate_facts` builds the data-bound variant: ``orders`` and
``lineitem`` copied ``factor`` times with the order keys shifted per
copy, the dimension tables unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "red", "small", "large", "green", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
         "value", "vector", "window"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
EMBED_DIM = 64
DAY_US = 86_400_000_000
ORDER_EPOCH = np.datetime64("1995-01-01", "us")
EVENT_EPOCH = np.datetime64("2024-01-01", "us")
KEY_SHIFT = 100_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _days(base: np.datetime64, rng, span_days: int, n: int) -> np.ndarray:
    return base + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def _tables(sf: float, rng) -> dict[str, pa.Table]:
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_line, n_part = int(6_000_000 * sf), int(200_000 * sf)
    n_supp, n_events = max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(ORDER_EPOCH, rng, 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(ORDER_EPOCH + np.timedelta64(1, "D"), rng, 2499, n_line)})
    span_us = 30 * DAY_US
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": EVENT_EPOCH + np.sort(rng.integers(0, span_us, n_events)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(150, n_events // 66), n_events),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0, 0.8, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1))
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels.astype(np.int32)})


def generate(out_dir: str, sf: float, seed: int, tables: list[str] | None = None) -> None:
    """Write every table (or only ``tables``) as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, table in _tables(sf, rng).items():
        if tables is None or name in tables:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def replicate_facts(base_dir: str, out_dir: str, factor: int) -> None:
    """Star tables of ``base_dir`` with ``orders``/``lineitem`` copied
    ``factor`` times (order keys shifted by copy), one parquet part file
    per copy under ``<out_dir>/<table>.parquet/``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in STAR_TABLES:
        src = os.path.join(base_dir, f"{name}.parquet")
        key = {"orders": "o_orderkey", "lineitem": "l_orderkey"}.get(name)
        if key is None:
            pq.write_table(pq.read_table(src), os.path.join(out_dir, f"{name}.parquet"))
            continue
        table = pq.read_table(src)
        part_dir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(part_dir, exist_ok=True)
        col = table.schema.get_field_index(key)
        for i in range(factor):
            copy = table.set_column(col, key, pa.compute.add(table[key], i * KEY_SHIFT))
            pq.write_table(copy, os.path.join(part_dir, f"part-{i:05d}.parquet"))
