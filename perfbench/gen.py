"""Seeded fixture generator: the engine's ten tables, written from scratch.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one snappy parquet file each, with the column
names, types and value domains of the engine's fixture tables (see
FIXTURES.md at the repo root), at the sf0.001 fixture's row counts.

Table contents are drawn once from the fixed ``CONTENT_SEED``; the run
seed only permutes the rows of every table.  So every run answers the
same questions over the same rows, the physical layout differs from seed
to seed, and the same seed always gives byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.44, 0.13, 0.14, 0.15, 0.14)
N_SOURCES = 20
NEAR_DUP_FRAC = 0.05
EMBED_DIM = 64
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
CONTENT_SEED = 0
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@dataclass(frozen=True)
class Rows:
    """Row counts per table (region and nation are fixed at 5 and 25):
    the sf0.001 fixture's."""

    customer: int = 150
    supplier: int = 10
    part: int = 200
    orders: int = 1500
    lineitem: int = 6000
    events: int = 1000
    users: int = 15
    documents: int = 500
    embeddings: int = 500


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(a, b + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100, 2)


def _docs(rng, n: int) -> dict:
    words = np.array(VOCAB)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
        for _ in range(n)
    ]
    # Near duplicates: a copy of another document plus one marker token,
    # so the dedup and LSH operators always have true positives to find.
    for i in np.flatnonzero(rng.random(n) < NEAR_DUP_FRAC):
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


ROWS = Rows()


def _tables(rng) -> dict[str, pa.Table]:
    r = ROWS
    cols: dict[str, dict] = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": list(REGIONS),
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(r.customer, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(r.customer)],
            "c_nationkey": rng.integers(0, 25, r.customer).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, r.customer),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, r.customer)],
        },
        "supplier": {
            "s_suppkey": np.arange(r.supplier, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(r.supplier)],
            "s_nationkey": rng.integers(0, 25, r.supplier).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, r.supplier),
        },
        "part": {
            "p_partkey": np.arange(r.part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (r.part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, r.part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, r.part)],
            "p_size": rng.integers(1, 51, r.part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(r.part) % 1000) / 10, 1),
        },
        "orders": {
            "o_orderkey": np.arange(r.orders, dtype=np.int64),
            "o_custkey": rng.integers(0, r.customer, r.orders),
            "o_orderstatus": np.array(list("FOP"))[rng.integers(0, 3, r.orders)],
            "o_totalprice": _money(rng, 1000, 500000, r.orders),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", r.orders),
            "o_orderpriority": np.array(PRIORITIES)[
                rng.integers(0, 5, r.orders)
            ],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, r.orders, r.lineitem),
            "l_partkey": rng.integers(0, r.part, r.lineitem),
            "l_suppkey": rng.integers(0, r.supplier, r.lineitem),
            "l_linenumber": rng.integers(1, 8, r.lineitem).astype(np.int32),
            "l_quantity": rng.integers(1, 51, r.lineitem).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, r.lineitem),
            "l_discount": rng.integers(0, 11, r.lineitem) / 100,
            "l_tax": rng.integers(0, 9, r.lineitem) / 100,
            "l_returnflag": np.array(list("ANR"))[rng.integers(0, 3, r.lineitem)],
            "l_linestatus": np.array(list("FO"))[rng.integers(0, 2, r.lineitem)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", r.lineitem),
        },
    }
    # Events arrive as a Poisson stream over January 2024, in ts order.
    gaps = rng.exponential(1.0, r.events)
    span_us = 30 * 86_400_000_000
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        np.cumsum(gaps) / gaps.sum() * (span_us - 1)
    ).astype("timedelta64[us]")
    cols["events"] = {
        "event_id": np.arange(r.events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, r.users, r.events),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, r.events)],
        "value": np.maximum(np.round(rng.exponential(50.0, r.events), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, r.events)],
    }
    cols["documents"] = _docs(rng, r.documents)
    vec = rng.standard_normal((r.embeddings, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    cols["embeddings"] = {
        "vec_id": np.arange(r.embeddings, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, r.embeddings).astype(np.int32),
    }
    return {name: pa.table(c) for name, c in cols.items()}


def generate(out_dir: str, seed: int) -> str:
    """Write every table, rows permuted by ``seed``, under ``out_dir``
    (created) and return it."""
    content = np.random.default_rng(CONTENT_SEED)
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in _tables(content).items():
        order = rng.permutation(tbl.num_rows)
        pq.write_table(
            tbl.take(pa.array(order)),
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
        )
    return out_dir
