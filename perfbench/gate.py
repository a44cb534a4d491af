"""Output gate: every table the engine returns is checked against DuckDB.

Rules (``compare``):

- column names must match; column types must match after dropping
  nullability and Arrow encoding choices (``large_string`` = ``string``,
  a timestamp's zone is dropped: the engine's session zone is UTC);
- rows compare as a multiset, and in order only when the statement has
  ORDER BY;
- DOUBLE values may differ by a relative ``DOUBLE_RTOL``; every other
  value must be equal.

Why a DOUBLE tolerance: Spark and DuckDB round the DECIMAL -> DOUBLE
cast differently in the last bit. On TPC-H q1 the R/F ``sum_disc_price``
reads 2706323975.3561 from Spark and 2706323975.3560996 from DuckDB, a
relative gap of 1.8e-16 (one ULP). ``DOUBLE_RTOL`` = 1e-12 covers that
gap several thousand times over and still rejects a one-cent error on
any value below 1e10.
"""

from __future__ import annotations

import math

import pyarrow as pa

DOUBLE_RTOL = 1e-12


def canonical_type(t: pa.DataType) -> pa.DataType:
    if pa.types.is_dictionary(t):
        return canonical_type(t.value_type)
    if pa.types.is_large_string(t):
        return pa.string()
    if pa.types.is_large_binary(t):
        return pa.binary()
    if pa.types.is_timestamp(t):
        return pa.timestamp(t.unit)
    return t


def _sort_key(row: tuple) -> tuple:
    # None first; doubles rounded for ORDERING ONLY so two engines'
    # last-bit differences cannot reorder the two sides differently
    return tuple(
        (v is None, round(v, 6) if isinstance(v, float) else v) for v in row
    )


def _values_equal(a, b, is_double: bool) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if is_double:
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=DOUBLE_RTOL, abs_tol=0.0)
    return a == b


def compare(got: pa.Table, expected: pa.Table, ordered: bool) -> str | None:
    """None when ``got`` matches ``expected``; otherwise the reason."""
    if got.column_names != expected.column_names:
        return f"columns {got.column_names} != expected {expected.column_names}"
    for name, g, e in zip(got.column_names, got.schema.types, expected.schema.types):
        if canonical_type(g) != canonical_type(e):
            return f"column {name}: type {g} != expected {e}"
    if got.num_rows != expected.num_rows:
        return f"{got.num_rows} rows != expected {expected.num_rows}"
    doubles = [pa.types.is_floating(t) for t in expected.schema.types]
    g_rows = list(zip(*(c.to_pylist() for c in got.columns)))
    e_rows = list(zip(*(c.to_pylist() for c in expected.columns)))
    if not ordered:
        g_rows.sort(key=_sort_key)
        e_rows.sort(key=_sort_key)
    for i, (g, e) in enumerate(zip(g_rows, e_rows)):
        for name, a, b, dbl in zip(got.column_names, g, e, doubles):
            if not _values_equal(a, b, dbl):
                return f"row {i} column {name}: {a!r} != expected {b!r}"
    return None


class DuckReference:
    """DuckDB tables and views named like the engine's views, holding
    the same data (parquet files are loaded; remote tables are read in
    place).

    ``views`` maps a view name (``tpch_orders``) to the parquet file or
    ``(duckdb_file, table)`` it reads."""

    def __init__(self, views: dict[str, str | tuple[str, str]]) -> None:
        import duckdb

        self._con = duckdb.connect()
        attached: dict[str, str] = {}
        for view, src in views.items():
            if isinstance(src, tuple):
                path, table = src
                if path not in attached:
                    attached[path] = f"remote{len(attached)}"
                    self._con.execute(
                        f"ATTACH '{_lit(path)}' AS {attached[path]} (READ_ONLY)"
                    )
                self._con.execute(
                    f"CREATE VIEW {view} AS SELECT * FROM {attached[path]}.{table}"
                )
            else:
                self._con.execute(
                    f"CREATE TABLE {view} AS SELECT * FROM read_parquet('{_lit(src)}')"
                )

    def answer(self, sql: str) -> pa.Table:
        return self._con.execute(sql).fetch_arrow_table()

    def close(self) -> None:
        self._con.close()


def _lit(s: str) -> str:
    return s.replace("'", "''")
