"""TPC-H-shaped source history at sf0.1 cardinalities.

The benchmark makes its own inputs, so a run needs nothing outside its
checkout. The schema and sizes follow the repository's sf0.1 test data
(150k orders, ~600k lineitems, 15k customers, 1k suppliers, 25 nations,
5 regions): doubles with two decimals, ``timestamp[us]`` dates. Order
keys are dense and order dates rise with the key, so a key cursor
moving forward plays back the history in time order — the "source
system" that each sync cycle catches up with.

The history itself is fixed (seed 42, like the test data); the run
seed chooses the schedule over it (``schedule.py``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_SUPPLIERS = 1_000
N_PARTS = 20_000
HISTORY_SEED = 42
# order dates span 1992-01-01 .. ~1998-12 in key order
EPOCH_US = int(np.datetime64("1992-01-01", "us").astype(np.int64))
DAY_US = 86_400 * 1_000_000
HISTORY_DAYS = 2_550

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def order_day(orderkey: np.ndarray) -> np.ndarray:
    """Day offset of an order from 1992-01-01 — monotone in the key."""
    return (orderkey - 1) * HISTORY_DAYS // N_ORDERS


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_US + days.astype(np.int64) * DAY_US, type=pa.timestamp("us"))


def generate(out_dir: str) -> dict[str, str]:
    """Write the six source tables as one parquet file each under
    ``out_dir``; returns ``{table: path}``. Deterministic."""
    rng = np.random.default_rng(HISTORY_SEED)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": NATIONS,
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    sk = np.arange(1, N_SUPPLIERS + 1, dtype=np.int64)
    tables["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIERS),
    })
    ck = np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)
    tables["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMERS),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, N_CUSTOMERS)],
    })

    ok = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    lines_per = rng.integers(1, 8, N_ORDERS)
    n_lines = int(lines_per.sum())
    l_ok = np.repeat(ok, lines_per)
    # line numbers 1..k within each order
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    l_ln = (np.arange(n_lines) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    price = np.round(qty * _money(rng, 900.0, 2100.0, n_lines), 2)
    disc = np.round(rng.integers(0, 11, n_lines) / 100.0, 2)
    tax = np.round(rng.integers(0, 9, n_lines) / 100.0, 2)
    o_day = order_day(ok)
    ship_day = np.repeat(o_day, lines_per) + rng.integers(1, 122, n_lines)
    flags = np.array(["A", "N", "R"])
    tables["lineitem"] = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(1, N_PARTS + 1, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(1, N_SUPPLIERS + 1, n_lines).astype(np.int64),
        "l_linenumber": l_ln,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": flags[rng.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
        "l_shipdate": _ts(ship_day),
    })
    totals = np.zeros(N_ORDERS)
    np.add.at(totals, l_ok - 1, price)
    tables["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, N_CUSTOMERS + 1, N_ORDERS).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(totals, 2),
        "o_orderdate": _ts(o_day),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, N_ORDERS)],
    })
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths
