"""Seeded TPC-H-shaped fixtures.

``write_tpch(dir, seed)`` writes the seven-table star the engine's
TPC-H statements read (region, nation, customer, supplier, part,
orders, lineitem) as one parquet file each, at the sf0.1 row counts and
column types of the repository's TPC-H test data. The same seed gives
byte-identical tables; a different seed gives other values with the same
shape, sizes and distributions, so timings stay comparable across seeds.

``(l_orderkey, l_linenumber)`` is unique by construction (each order
owns lines 1..n), so statements can order lineitem rows totally.

``build_duckdb_remote(path, parquet_dir, tables)`` copies some of those
tables into a DuckDB database file: the federated workload's remote
source.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("bolt", "gear", "hot", "large", "nut", "ring", "shiny", "spring")

# order dates span 1995-01-01 .. 2001-08-01; ship dates 1995-01-02 .. 2001-11-04
ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - ORDER_DAY0).astype(np.int64))
SHIP_DAY0 = np.datetime64("1995-01-02", "D")
SHIP_DAYS = int((np.datetime64("2001-11-04", "D") - SHIP_DAY0).astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Cent-valued doubles in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _days(day0: np.datetime64, offsets: np.ndarray) -> pa.Array:
    return pa.array((day0 + offsets.astype("timedelta64[D]")).astype("datetime64[us]"))


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
    })
    words = np.asarray(PART_WORDS, dtype=object)
    w1 = words[rng.integers(0, len(words), N_PART)]
    w2 = words[rng.integers(0, len(words), N_PART)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART, dtype=np.int64)),
        "p_name": pa.array(w1 + " " + w2, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(N_PART) % 1000) / 10.0),
    })
    order_days = rng.integers(0, ORDER_DAYS + 1, N_ORDERS)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), N_ORDERS),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": _days(ORDER_DAY0, order_days),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    })
    lines = rng.integers(1, 8, N_ORDERS)  # mean 4 lines per order -> ~600k rows
    n = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)),
        "l_partkey": pa.array(rng.integers(0, N_PART, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(n) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days(SHIP_DAY0, rng.integers(0, SHIP_DAYS + 1, n)),
    })
    return out


def write_tpch(directory: str, seed: int) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in tpch_tables(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))


def build_duckdb_remote(path: str, parquet_dir: str, tables: tuple[str, ...]) -> None:
    """Copy ``tables`` from ``parquet_dir`` into a new DuckDB file at
    ``path``, rows in key order so the file is the same for one seed."""
    import duckdb

    keys = {"orders": "o_orderkey", "customer": "c_custkey",
            "lineitem": "l_orderkey, l_linenumber"}
    con = duckdb.connect(path)
    try:
        for t in tables:
            src = os.path.join(parquet_dir, f"{t}.parquet").replace("'", "''")
            con.execute(
                f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{src}') "
                f"ORDER BY {keys[t]}"
            )
    finally:
        con.close()
