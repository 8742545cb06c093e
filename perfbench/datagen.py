"""Deterministic star-schema generator for the benchmark.

Writes the ten tables the query registry reads (``region`` … ``embeddings``)
with the column names, types and value domains of the project's testdata,
one single-row-group parquet file per table, so the benchmark needs no
data outside its own checkout. Rows scale with ``sf`` like TPC-H
(``lineitem`` 6M × sf), the corpora too (``documents`` 50k × sf,
``embeddings`` 20k × sf).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from iceberg_catalog_migrator_spark.sources.tables import TABLES

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(values)).cast(pa.string())


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "D")
    days = base + rng.integers(0, span + 1, size=n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_dup = n // 20
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, pos = [], 0
    for length in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + length]))
        pos += length
    # near-duplicates: later documents that copy an earlier one plus a marker
    dup_rows = np.sort(rng.choice(np.arange(n // 2, n), size=n_dup, replace=False))
    for row in dup_rows:
        texts[row] = texts[int(rng.integers(0, n // 2))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": _choice(rng, LANGS, n, LANG_P),
            "source": _choice(rng, [f"src{i}" for i in range(20)], n),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(size=(k, dim))
    labels = rng.integers(0, k, size=n).astype(np.int32)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(labels),
        }
    )


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
    }


def generate_table(name: str, sf: float, seed: int) -> pa.Table:
    """One table; each table draws from its own seeded stream, so a
    table's rows do not depend on which other tables are generated."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    n = _sizes(sf)
    if name == "region":
        return pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS})
    if name == "nation":
        return pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        )
    if name == "customer":
        k = n["customer"]
        return pa.table(
            {
                "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(k)],
                "c_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, k),
                "c_mktsegment": _choice(rng, SEGMENTS, k),
            }
        )
    if name == "supplier":
        k = n["supplier"]
        return pa.table(
            {
                "s_suppkey": pa.array(np.arange(k, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                "s_nationkey": pa.array(rng.integers(0, 25, k).astype(np.int32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, k),
            }
        )
    if name == "part":
        k = n["part"]
        adj = rng.integers(0, len(PART_ADJ), k)
        noun = rng.integers(0, len(PART_NOUN), k)
        return pa.table(
            {
                "p_partkey": pa.array(np.arange(k, dtype=np.int64)),
                "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
                "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], k),
                "p_type": _choice(rng, PART_TYPES, k),
                "p_size": pa.array(rng.integers(1, 51, k).astype(np.int32)),
                "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1),
            }
        )
    if name == "orders":
        k = n["orders"]
        return pa.table(
            {
                "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n["customer"], k).astype(np.int64)),
                "o_orderstatus": _choice(rng, ["F", "O", "P"], k),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, k),
                "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, k),
                "o_orderpriority": _choice(rng, PRIORITIES, k),
            }
        )
    if name == "lineitem":
        k = n["lineitem"]
        return pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n["orders"], k).astype(np.int64)),
                "l_partkey": pa.array(rng.integers(0, n["part"], k).astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], k).astype(np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, k).astype(np.int32)),
                "l_quantity": rng.integers(1, 51, k).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, k),
                "l_discount": rng.integers(0, 11, k) / 100.0,
                "l_tax": rng.integers(0, 9, k) / 100.0,
                "l_returnflag": _choice(rng, ["A", "N", "R"], k),
                "l_linestatus": _choice(rng, ["F", "O"], k),
                "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, k),
            }
        )
    if name == "events":
        k = n["events"]
        start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
        ts = np.sort(start_us + rng.integers(0, 30 * 86_400 * 10**6, k))
        return pa.table(
            {
                "event_id": pa.array(np.arange(k, dtype=np.int64)),
                "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, 1500, k).astype(np.int64)),
                "event_type": _choice(rng, EVENT_TYPES, k),
                "value": np.round(rng.exponential(40.0, k), 2),
                "props": _choice(rng, [f'{{"k": {i}}}' for i in range(100)], k),
            }
        )
    if name == "documents":
        return _documents(rng, n["documents"])
    if name == "embeddings":
        return _embeddings(rng, n["embeddings"])
    raise KeyError(name)


def write_star_schema(out_dir: str, sf: float, seed: int, tables=TABLES) -> dict[str, int]:
    """Generate and write ``tables`` as single-row-group parquet files;
    returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in tables:
        table = generate_table(name, sf, seed)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
        rows[name] = table.num_rows
    return rows
