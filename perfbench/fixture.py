"""Seeded generator of the fixture tables the operators and the engine read.

The tables follow FIXTURES.md and the shapes of the TPC-H-ish test data:
`region nation customer supplier part orders lineitem events documents
embeddings`, one parquet file each. Every value comes from one
``numpy.random.Generator`` seeded by the benchmark's seed, so the same seed
and scale give byte-identical tables.

The distributions copy those measured on the repository's sf0.01 test
tables (`python3 perfbench/shape.py <dir>` prints them; README.md
"Fixture shapes" has the comparison): uniform keys and categories, prices
and dates drawn independently of each other, documents of 10-99 words over
a 30-word vocabulary, 5% of them a copy of another document with " dup"
appended, and isotropic unit-vector embeddings with random labels.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
# the marker a near-duplicate document ends with
DUP_MARK = "dup"
EMBED_DIM = 64

_ORDER_EPOCH = datetime(1995, 1, 1)
_ORDER_DAYS = 2405  # through 2001-08-01
_SHIP_DAYS = 2499  # 1995-01-02 through 2001-11-04
_EVENT_EPOCH = datetime(2024, 1, 1)
_EVENT_SPAN_US = 30 * 86400 * 10**6


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor `sf` (sf0.01 -> 60k lineitems)."""
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1500, int(1_500_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "event_users": max(15, int(15_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(200, int(50_000 * sf)),
    }


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform prices with exactly two decimals."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(epoch: datetime, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(epoch, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word salad of 10-99 words each; 5% of the documents are a copy of
    another one with DUP_MARK appended, so the dedup and similarity
    operators find near-duplicate pairs but no exact copies."""
    texts = [
        " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k))
        for k in rng.integers(10, 100, n)
    ]
    picked = rng.choice(n, 2 * (n // 20), replace=False)
    for i, j in zip(picked[: n // 20], picked[n // 20 :]):
        texts[i] = f"{texts[j]} {DUP_MARK}"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors in random directions, with labels drawn independently
    of them."""
    x = rng.normal(size=(n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All fixture tables for one seed and scale factor."""
    rng = np.random.default_rng(seed)
    size = table_sizes(sf)
    n_cust, n_supp, n_part, n_ord = (
        size["customer"], size["supplier"], size["part"], size["orders"]
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    order_day = rng.integers(0, _ORDER_DAYS, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": _cents(rng, 1000.0, 499999.99, n_ord),
            "o_orderdate": _ts(_ORDER_EPOCH, order_day * 86400 * 10**6),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
        }
    )
    n_line = 4 * n_ord
    l_order = rng.integers(0, n_ord, n_line)
    ship_day = rng.integers(1, _SHIP_DAYS + 1, n_line)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(_ORDER_EPOCH, ship_day * 86400 * 10**6),
        }
    )
    n_ev = size["events"]
    t["events"] = event_table(
        rng, np.arange(n_ev), np.sort(rng.integers(0, _EVENT_SPAN_US, n_ev)),
        size["event_users"],
    )
    t["documents"] = _documents(rng, size["documents"])
    t["embeddings"] = _embeddings(rng, size["embeddings"])
    return t


def event_table(
    rng: np.random.Generator,
    event_ids: np.ndarray,
    ts_us: np.ndarray,
    n_users: int,
    epoch: datetime = _EVENT_EPOCH,
) -> pa.Table:
    """Rows of the `events` shape: ids and timestamps as given, the other
    columns drawn from `rng`."""
    n = len(event_ids)
    return pa.table(
        {
            "event_id": pa.array(event_ids, pa.int64()),
            "ts": _ts(epoch, np.asarray(ts_us)),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n)],
            "value": (rng.exponential(5000.0, n).astype(np.int64) + 1) / 100.0,
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n)],
        }
    )


def write(tables: dict[str, pa.Table], out_dir: str) -> str:
    """Write one `<name>.parquet` per table; returns `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

