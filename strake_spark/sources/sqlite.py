"""SQLite source — Spark 4 Python DataSource over the stdlib driver.

Reference: crates/connectors/src/sources/sql/sqlite.rs +
sqlite_federation.rs (local-file DB registered as table providers).

Scans run through the shared reader (``pushsql.SqlSource``): each
partition opens its own read-only sqlite3 connection executor-side.
``num_partitions`` alone splits a table on ``rowid``, SQLite's implicit
integer PK, so a table splits into N contiguous slices without any
schema cooperation. This module adds the connection, the schema probes
(``PRAGMA table_info`` for a table; SQLite has no result-type metadata
for a statement) and the row stream.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.types import StructType

from strake_spark.config import SourceConfig
from strake_spark.errors import SourceError
from strake_spark.sources import pushsql
from strake_spark.sources.registry import source_type

FORMAT_NAME = "strake_sqlite"


def _connect(path: str):
    import sqlite3

    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    pushsql.on_cancel(con.interrupt)
    return con


def _decltype_to_spark(decl: str) -> T.DataType:
    """SQLite declared-type affinity -> Spark type (reference fetches
    schema from DB metadata the same way, sql/mod.rs:73-80)."""
    d = (decl or "").upper()
    if "INT" in d:
        return T.LongType()
    if any(k in d for k in ("CHAR", "CLOB", "TEXT")):
        return T.StringType()
    if "BLOB" in d or d == "":
        return T.BinaryType()
    if any(k in d for k in ("REAL", "FLOA", "DOUB")):
        return T.DoubleType()
    if "BOOL" in d:
        return T.BooleanType()
    if "DATE" in d or "TIME" in d:
        return T.StringType()  # SQLite stores datetimes as text
    return T.DoubleType()  # NUMERIC affinity


class SQLiteDataSource(pushsql.SqlSource):
    default_partition_column = "rowid"

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _connect(self):
        return _connect(self.options["path"])

    def schema(self):
        table, schema = self.options.get("table"), self.options.get("schema")
        relation = self.relation()
        with contextlib.closing(self._connect()) as con:
            if table:
                pragma = f"{self.quote(schema)}.table_info" if schema else "table_info"
                cols = con.execute(f"PRAGMA {pragma}({self.quote(table)})").fetchall()
                if not cols:
                    raise SourceError(f"sqlite table not found: {table!r}")
                return StructType(
                    [T.StructField(c[1], _decltype_to_spark(c[2]), True) for c in cols])
            # a statement has no result-type metadata: type it from one
            # row's Python values (string when all-NULL/empty)
            cur = con.execute(f"SELECT * FROM {relation} LIMIT 1")
            names = [d[0] for d in cur.description]
            row = cur.fetchone() or (None,) * len(names)
        py_to_spark = {int: T.LongType(), float: T.DoubleType(), bytes: T.BinaryType()}
        return StructType([
            T.StructField(name, py_to_spark.get(type(v), T.StringType()), True)
            for name, v in zip(names, row)
        ])

    def _bounds(self, con, sql):
        return con.execute(sql).fetchone()

    def _rows(self, con, sql, schema):
        return con.execute(sql)


def discover_tables(path: str) -> list[str]:
    con = _connect(path)
    try:
        rows = con.execute(
            "SELECT name FROM sqlite_master WHERE type = 'table' "
            "AND name NOT LIKE 'sqlite_%' ORDER BY name"
        ).fetchall()
    finally:
        con.close()
    return [r[0] for r in rows]


@source_type("sqlite")
def register_sqlite_source(spark: SparkSession, cfg: SourceConfig) -> list[str]:
    if not cfg.url:
        raise SourceError(f"sqlite source {cfg.name!r} needs url (database file path)")
    names = [t.name for t in cfg.tables] or discover_tables(cfg.url)
    return pushsql.register_tables(
        spark, cfg, SQLiteDataSource, "sqlite", {"path": cfg.url}, names
    )
