"""Seeded generator for the ``ingest_refresh`` inputs.

Writes ``orders`` and ``items`` parquet files with the value ranges and
fan-out (four items per order) of the sf0.1 ``orders``/``lineitem`` fixture,
for the first ``n_orders`` orders and the columns the workload loads. ``lineitem`` has no unique key
(``(l_orderkey, l_linenumber)`` repeats), so ``items`` carries a synthesized
primary key, ``l_itemkey``, numbered in ``l_orderkey`` order. The same seed
always gives the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ITEMS_PER_ORDER = 4
N_CUSTOMERS = 15_000
N_PARTS = 20_000
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def write(out_dir: str, seed: int, n_orders: int) -> tuple[str, str]:
    """Write ``orders.parquet`` and ``items.parquet``; return their paths."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    k = n_orders
    orders = pa.table({
        "o_orderkey": np.arange(k),
        "o_custkey": rng.integers(0, N_CUSTOMERS, k),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, k)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, k), 2),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)],
    })
    k = n_orders * ITEMS_PER_ORDER
    items = pa.table({
        "l_itemkey": np.arange(k),
        "l_orderkey": np.sort(rng.integers(0, n_orders, k)),
        "l_partkey": rng.integers(0, N_PARTS, k),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, k), 2),
        "l_discount": np.round(rng.integers(0, 11, k) / 100.0, 2),
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
    })
    paths = os.path.join(out_dir, "orders.parquet"), os.path.join(out_dir, "items.parquet")
    pq.write_table(orders, paths[0])
    pq.write_table(items, paths[1])
    return paths
