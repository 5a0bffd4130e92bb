"""Seeded input generator for the benchmark workloads.

Self-contained on purpose: the benchmark's inputs must not change when a
test fixture or the shared testdata changes, so nothing here reads them.
It writes one parquet file per table (one row group each, like the star
testdata the engine's scan fan-out is tuned for) and a ``sizes.json`` with
the row counts, once per (workload, seed) directory.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Star schema at scale factor 0.1 (customer 15K / orders 150K / lineitem 600K).
STAR_ROWS = {"customer": 15_000, "orders": 150_000, "lineitem": 600_000}
N_NATIONS = 25

_DAY_US = 86_400_000_000
_EPOCH_1995 = 9131  # 1995-01-01 in days since 1970-01-01


def _write(out_dir: str, tables: dict[str, pa.Table]) -> dict[str, int]:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, table.num_rows)
        )
    sizes = {name: t.num_rows for name, t in tables.items()}
    with open(os.path.join(out_dir, "sizes.json"), "w") as f:
        json.dump(sizes, f, sort_keys=True)
    return sizes


def _cached(out_dir: str) -> dict[str, int] | None:
    try:
        with open(os.path.join(out_dir, "sizes.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _dates(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    days = rng.integers(0, span_days, size=n) + _EPOCH_1995
    return pa.array(days.astype("int64") * _DAY_US, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.array(values)[rng.integers(0, len(values), size=n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def write_star(out_dir: str, seed: int) -> dict[str, int]:
    """TPC-H-like star (the columns ``sources.star.STAR_SCHEMAS`` declares
    for region/nation/customer/orders/lineitem), uniformly keyed like the
    sf0.1 testdata: lineitem rows pick an order and a line number
    independently, so about 1/7 of them carry line number 1."""
    cached = _cached(out_dir)
    if cached is not None:
        return cached
    rng = np.random.default_rng(seed)
    n_c, n_o, n_l = STAR_ROWS["customer"], STAR_ROWS["orders"], STAR_ROWS["lineitem"]
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": pa.array([f"REGION_{i}" for i in range(5)]),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(N_NATIONS, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(N_NATIONS)]),
            "n_regionkey": pa.array(np.arange(N_NATIONS, dtype="int32") % 5),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_c, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, size=n_c).astype("int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
            "c_mktsegment": pa.array(
                _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c)
            ),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_c, size=n_o).astype("int64")),
            "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_o)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_o)),
            "o_orderdate": _dates(rng, n_o, 2404),
            "o_orderpriority": pa.array(
                _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o)
            ),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_o, size=n_l).astype("int64")),
            "l_partkey": pa.array(rng.integers(0, 20_000, size=n_l).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, 1_000, size=n_l).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_l).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, size=n_l).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_l)),
            "l_discount": pa.array(rng.integers(0, 11, size=n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n_l) / 100.0),
            "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_l)),
            "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_l)),
            "l_shipdate": _dates(rng, n_l, 2500),
        }
    )
    return _write(
        out_dir,
        {
            "region": region,
            "nation": nation,
            "customer": customer,
            "orders": orders,
            "lineitem": lineitem,
        },
    )
