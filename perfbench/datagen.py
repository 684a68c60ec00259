"""Deterministic synthetic input tables for the benchmark.

The tables follow the schema and value ranges of the repository's
TPC-H-style test fixtures (FIXTURES.md §3): region, nation, customer,
supplier, part, orders, lineitem, events, documents and embeddings, one
parquet file each.  The same ``(seed, sf)`` always gives byte-identical
values, so the benchmark never reads data from outside its checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "old", "small", "red", "new"]
_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "widget", "nut", "pipe"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "D").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "D").astype(np.int64)


def sizes(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (sf0.1 = 600k lineitem)."""
    return {
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "users": max(10, int(15_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(200, int(20_000 * sf)),
    }


def _pick(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start_day, span, n) -> pa.Array:
    d = (start_day + rng.integers(0, span, n)).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[ms]"))


def lineitem_rows(rng, n: int, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    """``n`` lineitem rows; also used for the benchmark's appended slices."""
    q = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": q,
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, _EPOCH_1995 + 1, 2499, n),
    })


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 100))
        texts.append(" ".join(np.asarray(_VOCAB)[rng.integers(0, len(_VOCAB), k)]))
    # a few exact and whitespace/case-only duplicates, so the dedup
    # operators have something to find
    for i in rng.choice(n, max(2, n // 500), replace=False):
        j = int(rng.integers(0, n))
        texts[i] = texts[j] if i % 2 else texts[j].upper() + "  "
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, _LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.06, (n, 64))).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    ar = np.arange
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(ar(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(ar(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(ar(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(ar(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(rng, _SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(ar(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": pa.array(ar(n["part"]), pa.int64()),
            "p_name": pa.array(
                np.char.add(
                    np.char.add(np.asarray(_ADJ)[rng.integers(0, 8, n["part"])], " "),
                    np.asarray(_NOUN)[rng.integers(0, 8, n["part"])],
                ).astype(object)
            ),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": _pick(rng, _PTYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + (ar(n["part"]) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(ar(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n["orders"]),
            "o_orderdate": _days(rng, _EPOCH_1995, 2404, n["orders"]),
            "o_orderpriority": _pick(rng, _PRIORITIES, n["orders"]),
        }),
        "lineitem": lineitem_rows(
            rng, n["lineitem"], n["orders"], n["part"], n["supplier"]
        ),
    }
    ne = n["events"]
    ts_us = np.sort(_EPOCH_2024 * _DAY_US + rng.integers(0, 30 * _DAY_US, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(ar(ne), pa.int64()),
        "ts": pa.array(ts_us.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": _pick(rng, _EVENTS, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return tables


def write_tables(seed: int, sf: float, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
