"""Seeded TPC-H-shaped tables for the query workloads.

The engine's queries read one parquet file per table from a scale-factor
directory (``sources/tables.py:load_table``). This module writes such a
directory from a seed, with the same columns, types and value domains as
the engine's test data, so the benchmark needs nothing outside its
checkout. Row counts follow the TPC-H ratios: sf=0.01 gives 1,500
customers, 15,000 orders and ~60,000 line items.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("small", "large", "red", "blue", "green", "steel", "brass", "plastic")
NOUNS = ("ring", "widget", "bolt", "gear", "valve", "spring", "panel", "hinge")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_DAY_US = 86_400_000_000
_ORDER_EPOCH_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_ORDER_DAYS = 2404  # last order date 2001-08-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table the benchmark's queries read, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_orders = max(int(1_500_000 * sf), 10)
    n_events = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 5)

    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    partkeys = np.arange(n_part, dtype="int64")
    retail = np.round(900.0 + (partkeys % 1000) / 10.0, 2)
    part = pa.table(
        {
            "p_partkey": partkeys,
            "p_name": [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )
    order_days = rng.integers(0, _ORDER_DAYS + 1, n_orders)
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _ts(_ORDER_EPOCH_US + order_days * _DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
        }
    )
    # 1-7 lines per order; ~2% of orders get none (orders_without_lineitems)
    lines = rng.integers(1, 8, n_orders) * (rng.random(n_orders) >= 0.02)
    l_order = np.repeat(np.arange(n_orders, dtype="int64"), lines)
    n_li = len(l_order)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_part = rng.integers(0, n_part, n_li).astype("int64")
    qty = rng.integers(1, 51, n_li).astype("float64")
    ship_days = np.repeat(order_days, lines) + rng.integers(1, 122, n_li)
    lineitem = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": l_part,
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part], 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _ts(_ORDER_EPOCH_US + ship_days * _DAY_US),
        }
    )
    events = pa.table(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": _ts(
                _EVENT_EPOCH_US + np.sort(rng.integers(0, 30 * _DAY_US, n_events))
            ),
            "user_id": rng.integers(0, n_users, n_events).astype("int64"),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": _money(rng, 0.01, 500.0, n_events),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def write_sf_dir(out_dir: str, sf: float, seed: int) -> str:
    """Write ``<table>.parquet`` files for ``sf``/``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
