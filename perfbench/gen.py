"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the registered queries read (``region`` … ``embeddings``,
one parquet file each) with the column names, types and value distributions
of the engine's reference test data: a TPC-H-shaped star schema, an event
stream and a document/embedding corpus with 5% near-duplicate documents.
Row counts scale linearly with ``sf`` (``lineitem`` has ``6_000_000 * sf``
rows). The data depends only on ``sf`` and the fixed ``DATA_SEED``, so the
expected query outputs recorded in ``expected.json`` stay valid.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64


def _dates(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    """Midnight timestamps drawn uniformly from ``start`` to ``end``."""
    d0 = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - d0).astype(int))
    days = d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vec = int(15_000 * sf), max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    pick = lambda vals, n: [vals[i] for i in rng.integers(0, len(vals), n)]  # noqa: E731

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": i64(range(n_cust)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": i64(range(n_supp)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": i64(keys),
        "p_name": [f"{a} {b}" for a, b in zip(pick(PART_ADJ, n_part), pick(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": pick(PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": i64(range(n_ev)),
        "ts": pa.array(t0 + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(pick(WORDS, int(k))) for k in rng.integers(10, 101, n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):  # near-duplicates
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    t["documents"] = pa.table({
        "doc_id": i64(range(n_docs)),
        "text": texts,
        "lang": pick(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": i64([len(x) for x in texts]),
    })
    vec = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": i64(range(n_vec)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vec)),
    })
    return t


def ensure_tables(data_dir: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``data_dir`` once; returns the
    table directory. A marker file is written last, so an interrupted
    generation is redone."""
    out = os.path.join(data_dir, f"sf{sf:g}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(dt.datetime.now(dt.timezone.utc).isoformat() + "\n")
    return out
