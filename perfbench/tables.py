"""Seeded star-schema tables in the layout the serving plans read.

Writes ``region nation customer orders lineitem`` as one parquet file
each, with the column names and types of the engine's fixture tables
(FIXTURES.md §B) and only the columns the student page's plans
(``flagship_progress``, ``transcript_lookup``, ``grade_histogram``) and
``FLAGSHIP_ORACLE_SQL`` read.  Values are drawn with NumPy from ``seed``
alone: the same seed writes the same bytes.  Money is whole cents and
quantities are whole numbers, so every exact-sum query has one right
answer.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def make_tables(n_customers: int, seed: int) -> dict[str, pa.Table]:
    """Tables for ``n_customers`` students: 10 orders per student on
    average and 1-7 lines per order (≈40 course attempts per student)."""
    rng = np.random.default_rng(seed)
    n_orders = 10 * n_customers
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    custkey = np.arange(1, n_customers + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": custkey,
        "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
    })
    orderkey = np.arange(1, n_orders + 1, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": orderkey,
        "o_custkey": rng.integers(1, n_customers + 1, n_orders),
    })
    lines = rng.integers(1, 8, n_orders)
    n_lines = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lineitem = pa.table({
        "l_orderkey": np.repeat(orderkey, lines),
        "l_linenumber": pa.array(np.arange(n_lines) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n_lines) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "orders": orders, "lineitem": lineitem,
    }


def write_tables(out_dir: str, n_customers: int, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(n_customers, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
