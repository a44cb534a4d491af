"""The one reader of the five SQL-speaking sources (``pushsql.SqlSource``
and ``SqlReader``): on one typed table with NULLs in the partition
column, each source reads the same rows unpartitioned, in 3 slices
(every row exactly once), with a ``where`` option, as a pushed ``query``
through Spark and through ``DriverFetch``; the wire sources send exactly
the SQL pinned here. A string ``partition_column`` fails with a coded
error in every source."""

from __future__ import annotations

import sqlite3
import threading

import duckdb
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from strake_spark.errors import SourceError
from strake_spark.inventory._wire_fakes import FakeMySql, FakePg, make_fake_ch
from strake_spark.sources import pushsql
from strake_spark.sources.clickhouse_http import ClickHouseDataSource
from strake_spark.sources.duck import DuckDBDataSource
from strake_spark.sources.mysqlwire import MySqlDataSource
from strake_spark.sources.pgwire import PgWireDataSource
from strake_spark.sources.registry import ensure_format
from strake_spark.sources.sqlite import SQLiteDataSource

# 30 rows; n (the partition column) is NULL on every 7th row, note on every 5th
ROWS = [
    (i, None if i % 7 == 3 else i * 10 - 100, f"{i}.25", f"2024-01-{i + 1:02d}",
     f"2024-01-{i + 1:02d} 10:{i:02d}:00.5", None if i % 5 == 4 else f"note {i}")
    for i in range(30)
]
QUERY = "SELECT id, n, note FROM typed WHERE id < 20"
WHERE = "note IS NOT NULL"


@pytest.fixture(scope="module")
def backing(tmp_path_factory):
    """One DuckDB file behind the duckdb source and the three wire fakes."""
    path = str(tmp_path_factory.mktemp("sql_reader") / "typed.duckdb")
    con = duckdb.connect(path)
    con.execute("CREATE TABLE typed (id BIGINT, n BIGINT, amount DECIMAL(12,2), d DATE, "
                "ts TIMESTAMP, note VARCHAR)")
    con.executemany("INSERT INTO typed VALUES (?, ?, ?, ?, ?, ?)", ROWS)
    con.close()
    return path


@pytest.fixture(scope="module")
def sqlite_path(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sql_reader_sqlite") / "typed.sqlite")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE typed (id INTEGER, n BIGINT, amount DECIMAL(12,2), "
                "d DATE, ts TIMESTAMP, note TEXT)")
    con.executemany("INSERT INTO typed VALUES (?, ?, ?, ?, ?, ?)", ROWS)
    con.commit()
    con.close()
    return path


@pytest.fixture(scope="module")
def servers(backing):
    pg = FakePg(backing, users={"alice": "s3cret"})
    my = FakeMySql(backing, users={"svc": "hunter2"})
    ch = make_fake_ch(backing, users={"analyst": "k3y"})
    for srv in (pg, my, ch):
        threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield {"pg": pg, "my": my, "ch": ch}
    for srv in (pg, my, ch):
        srv.shutdown()
        srv.server_close()


@pytest.fixture(scope="module")
def sources(backing, sqlite_path, servers) -> dict:
    """source key -> (DataSource class, connection options, fake or None)"""
    pg, my, ch = servers["pg"], servers["my"], servers["ch"]
    return {
        "duck": (DuckDBDataSource, {"path": backing}, None),
        "sqlite": (SQLiteDataSource, {"path": sqlite_path}, None),
        "pg": (PgWireDataSource, {"port": str(pg.server_address[1]), "user": "alice",
                                  "password": "s3cret", "database": "db"}, pg),
        "my": (MySqlDataSource, {"port": str(my.server_address[1]), "user": "svc",
                                 "password": "hunter2", "database": "db"}, my),
        "ch": (ClickHouseDataSource, {"url": f"http://127.0.0.1:{ch.server_port}",
                                      "user": "analyst", "password": "k3y"}, ch),
    }


def _read(cls, options: dict) -> tuple[list[pa.Table], int]:
    """Each slice of one in-process scan as an Arrow table (cast as
    ``DriverFetch`` casts), and the number of slices."""
    from pyspark.sql.datasource import CaseInsensitiveDict

    source = cls(CaseInsensitiveDict(options))
    struct = source.schema()
    target = to_arrow_schema(struct, error_on_duplicated_field_names_in_struct=True)
    reader = source.reader(struct)
    parts = reader.partitions()
    tables = [pa.Table.from_batches(list(pushsql._batches(reader.read(p), target)), target)
              for p in parts]
    return tables, len(parts)


def _by_id(table: pa.Table) -> pa.Table:
    return table.sort_by("id")


def _spark(spark, cls, options: dict) -> pa.Table:
    ensure_format(spark, cls)
    return spark.read.format(cls.name()).options(**options).load().toArrow()


# the exact statements each wire source receives; the 3 slices split
# [min(n), max(n)] = [-100, 190] at -3 and 93, NULLs with the first
_D = '"id", "n", "amount", "d", "ts", "note"'
_PINNED = {
    "double": {
        "schema": ['SELECT * FROM "typed" LIMIT 0'],
        "whole": [f'SELECT {_D} FROM "typed"'],
        "sliced": ['SELECT min("n"), max("n") FROM "typed"',
                   f'SELECT {_D} FROM "typed" WHERE ("n" < -3 OR "n" IS NULL)',
                   f'SELECT {_D} FROM "typed" WHERE ("n" >= -3 AND "n" < 93)',
                   f'SELECT {_D} FROM "typed" WHERE ("n" >= 93)'],
        "where": [f'SELECT {_D} FROM "typed" WHERE ({WHERE})'],
        "query": [f"SELECT * FROM ({QUERY}) AS q LIMIT 0",
                  f'SELECT "id", "n", "note" FROM ({QUERY}) AS q'],
    },
}
_PINNED["backtick"] = {k: [q.replace('"', "`") for q in v] for k, v in _PINNED["double"].items()}


@pytest.mark.parametrize("key", ["duck", "sqlite", "pg", "my", "ch"])
def test_every_read_path_gives_the_same_rows(spark, sources, key):
    cls, base, fake = sources[key]
    table = dict(base, table="typed")
    sent: dict[str, list[str]] = {}

    def read(mode: str, options: dict) -> tuple[list[pa.Table], int]:
        if fake is not None:
            fake.queries.clear()
        out = _read(cls, options)
        if fake is not None:
            sent[mode] = list(fake.queries)
        return out

    (whole,), _ = read("whole", table)
    whole = _by_id(whole)
    assert whole.num_rows == 30 and whole.column("n").null_count == 4
    slices, n_slices = read("sliced", dict(table, partition_column="n", num_partitions="3"))
    assert n_slices == 3
    ids = [i for t in slices for i in t.column("id").to_pylist()]
    assert sorted(ids) == list(range(30))  # every row exactly once
    assert all(t.num_rows for t in slices)
    assert _by_id(pa.concat_tables(slices)).equals(whole)
    (where,), _ = read("where", dict(table, where=WHERE))
    expected_where = whole.filter(whole.column("note").is_valid())
    assert _by_id(where).equals(expected_where)
    (query,), _ = read("query", dict(base, query=QUERY))
    expected_query = whole.select(["id", "n", "note"]).slice(0, 20)
    assert _by_id(query).equals(expected_query)

    if fake is not None:
        pinned = _PINNED["backtick" if key == "my" else "double"]
        probe = pinned["schema"]
        assert sent["whole"] == probe + pinned["whole"]
        assert sent["sliced"] == probe + pinned["sliced"]
        assert sent["where"] == probe + pinned["where"]
        assert sent["query"] == pinned["query"]

    fetched = pushsql.DriverFetch(cls, base)(QUERY)
    assert _by_id(fetched).equals(expected_query)
    assert _by_id(_spark(spark, cls, table)).equals(whole)
    assert _by_id(_spark(spark, cls, dict(table, partition_column="n",
                                          num_partitions="3"))).equals(whole)
    assert _by_id(_spark(spark, cls, dict(table, where=WHERE))).equals(expected_where)
    assert _by_id(_spark(spark, cls, dict(base, query=QUERY))).equals(expected_query)


@pytest.mark.parametrize("key", ["duck", "sqlite", "pg", "my", "ch"])
def test_string_partition_column_fails_coded(sources, key):
    """A column whose bounds are strings cannot be range-split: every
    source raises SourceError naming it, not a TypeError."""
    cls, base, _fake = sources[key]
    source = cls(dict(base, table="typed", partition_column="note", num_partitions="3"))
    reader = source.reader(source.schema())
    with pytest.raises(SourceError, match="'note'.*non-rangeable"):
        reader.partitions()


def test_sqlite_schema_qualified_table(sqlite_path):
    """sqlite names its attached databases as schemas: ``schema: main``
    probes ``PRAGMA "main".table_info`` and scans ``"main"."typed"``."""
    (plain,), _ = _read(SQLiteDataSource, {"path": sqlite_path, "table": "typed"})
    (qualified,), _ = _read(SQLiteDataSource,
                            {"path": sqlite_path, "table": "typed", "schema": "main"})
    assert qualified.equals(plain) and qualified.num_rows == 30
    with pytest.raises(SourceError, match="not found"):
        SQLiteDataSource({"path": sqlite_path, "table": "typed", "schema": "temp"}).schema()
