"""Seeded input generator for the benchmark.

Writes the ten tables the registered queries read (same names, columns and
types as the engine's testdata: a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``), the keyed upsert batches of the
``etl_upsert`` workload, and its event chunks for the streaming upsert.
Everything comes from one ``numpy`` generator seeded by ``--seed``, so the
same seed writes byte-identical inputs.  Only numpy and pyarrow are used:
the program under test never sees how its inputs were made.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "blue", "small", "large", "hot", "cold", "old", "new")
PART_NOUN = ("plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400_000_000
_ORDER_EPOCH_US = 788_918_400_000_000  # 1995-01-01
_EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated tier."""

    customer: int = 150
    supplier: int = 10
    part: int = 200
    orders: int = 1500
    events: int = 1000
    users: int = 50
    documents: int = 500
    embeddings: int = 500


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem_for(rng: np.random.Generator, orderkeys: np.ndarray, scale: Scale) -> pa.Table:
    """1–7 lines per order; ``(l_orderkey, l_linenumber)`` is unique."""
    per = rng.integers(1, 8, len(orderkeys))
    okey = np.repeat(orderkeys, per)
    line = np.concatenate([np.arange(1, k + 1) for k in per]) if len(per) else per
    n = len(okey)
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, scale.part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, scale.supplier, n), pa.int64()),
            "l_linenumber": pa.array(line, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _ts(_ORDER_EPOCH_US + rng.integers(1, 2500, n) * _DAY_US),
        }
    )


def orders_for(rng: np.random.Generator, orderkeys: np.ndarray, scale: Scale) -> pa.Table:
    n = len(orderkeys)
    return pa.table(
        {
            "o_orderkey": pa.array(orderkeys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, scale.customer, n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _ts(_ORDER_EPOCH_US + rng.integers(0, 2404, n) * _DAY_US),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
        }
    )


def make_tables(seed: int, scale: Scale) -> dict[str, pa.Table]:
    """All ten tables of one tier, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = scale.customer
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
        }
    )
    ns = scale.supplier
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = scale.part
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))]
            ),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
            "p_type": pa.array(rng.choice(PART_TYPES, npart)),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }
    )
    okeys = np.arange(scale.orders)
    t["orders"] = orders_for(rng, okeys, scale)
    t["lineitem"] = lineitem_for(rng, okeys, scale)
    ne = scale.events
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": _ts(_EVENT_EPOCH_US + np.sort(rng.integers(0, 30 * _DAY_US, ne))),
            "user_id": pa.array(rng.integers(0, scale.users, ne), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
            "value": np.round(rng.exponential(40.0, ne), 2) + 0.01,
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    nd = scale.documents
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(8, 100, nd)]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": pa.array(rng.choice(LANGS, nd)),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, nd)]),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    nv = scale.embeddings
    labels = rng.integers(0, N_LABELS, nv)
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    vecs = rng.normal(0.0, 1.0, (nv, EMBED_DIM)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    """One ``<name>.parquet`` file per table, the layout ``io.load_table``
    reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


@dataclass(frozen=True)
class Batch:
    """One keyed upsert batch: ``n_updated`` existing keys with new values
    followed by ``len(rows) - n_updated`` new keys."""

    table: str
    keys: tuple[str, ...]
    rows: pa.Table
    n_updated: int


def upsert_batches(
    seed: int, base: dict[str, pa.Table], scale: Scale, n_batches: int, batch_orders: int
) -> list[Batch]:
    """``n_batches`` batches per table (``orders`` keyed on ``o_orderkey``,
    ``lineitem`` on ``(l_orderkey, l_linenumber)``), in a seeded order.

    Each batch re-draws the values of a seeded slice of the base orders
    (half of ``batch_orders``) and adds as many brand-new orders; the
    lineitem batch carries the lines of the same orders.  Keys are unique
    within a batch; different batches may touch the same key, so the
    replay order matters."""
    rng = np.random.default_rng([seed, 1])
    n_base = int(base["orders"].column("o_orderkey").to_numpy().max()) + 1
    next_key = n_base
    n_old = batch_orders // 2
    batches: list[Batch] = []
    for _ in range(n_batches):
        old = np.sort(rng.choice(n_base, n_old, replace=False))
        new = np.arange(next_key, next_key + batch_orders - n_old)
        next_key += len(new)
        okeys = np.concatenate([old, new])
        batches.append(Batch("orders", ("o_orderkey",), orders_for(rng, okeys, scale), n_old))
        li = lineitem_for(rng, okeys, scale)
        n_li_old = int(np.isin(li.column("l_orderkey").to_numpy(), old).sum())
        batches.append(Batch("lineitem", ("l_orderkey", "l_linenumber"), li, n_li_old))
    order = rng.permutation(len(batches))
    return [batches[i] for i in order]


def event_chunks(seed: int, n_chunks: int, rows_per_chunk: int, users: int) -> list[pa.Table]:
    """Arrival-ordered event chunks for the streaming upsert (same columns
    as ``events``); event ids are unique across chunks."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for c in range(n_chunks):
        n = rows_per_chunk
        out.append(
            pa.table(
                {
                    "event_id": pa.array(np.arange(c * n, (c + 1) * n), pa.int64()),
                    "ts": _ts(
                        _EVENT_EPOCH_US
                        + c * _DAY_US
                        + np.sort(rng.integers(0, _DAY_US, n))
                    ),
                    "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
                    "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
                    "value": np.round(rng.exponential(40.0, n), 2) + 0.01,
                    "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
                }
            )
        )
    return out
