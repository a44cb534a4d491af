"""SQLite source — Spark 4 Python DataSource over the stdlib driver.

Reference: crates/connectors/src/sources/sql/sqlite.rs +
sqlite_federation.rs (local-file DB registered as table providers).

Executor-side scans (each partition opens its own read-only sqlite3
connection), remote filtering through federation pushdown (see
SQLiteReader), and ``rowid``-range partitioning for parallel reads — rowid is SQLite's
implicit integer PK, so a table splits into N contiguous slices without
any schema cooperation.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
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


def table_schema(path: str, table: str) -> StructType:
    con = _connect(path)
    try:
        cols = con.execute(f"PRAGMA table_info({pushsql.quote_ident(table)})").fetchall()
    finally:
        con.close()
    if not cols:
        raise SourceError(f"sqlite table not found: {table!r}")
    return StructType(
        [T.StructField(c[1], _decltype_to_spark(c[2]), True) for c in cols]
    )


@dataclass
class _Slice(InputPartition):
    predicate: str | None


class SQLiteReader(DataSourceReader):
    """No ``pushFilters`` — see DuckDBReader for the shared-read-plan
    correctness hazard. Scans derive only from immutable options; remote
    filtering comes from whole-statement federation pushdown or an
    explicit ``where`` option."""

    def __init__(self, options, schema: StructType) -> None:
        self.options = options
        self.schema = schema

    def partitions(self):
        n = int(self.options.get("num_partitions", "1"))
        table = self.options.get("table")
        if n <= 1 or not table:
            return [_Slice(None)]
        col = self.options.get("partition_column", "rowid")
        con = _connect(self.options["path"])
        try:
            qc = pushsql.quote_ident(col)
            lo, hi = con.execute(
                f"SELECT min({qc}), max({qc}) FROM {pushsql.quote_ident(table)}"
            ).fetchone()
        finally:
            con.close()
        return [_Slice(r.predicate()) for r in pushsql.plan_ranges(col, lo, hi, n)]

    def read(self, partition: _Slice):
        table = self.options.get("table")
        query = self.options.get("query")
        table_sql = f"({query})" if query else pushsql.quote_ident(table)
        where = self.options.get("where")
        sql = pushsql.build_select(
            table_sql,
            list(self.schema.fieldNames()),
            [where] if where else [],
            extra_predicate=partition.predicate,
        )
        con = _connect(self.options["path"])
        try:
            cur = con.execute(sql)
            while True:
                rows = cur.fetchmany(10_000)
                if not rows:
                    break
                yield from rows
        finally:
            con.close()


class SQLiteDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        table = self.options.get("table")
        if table:
            return table_schema(self.options["path"], table)
        query = self.options.get("query")
        if not query:
            raise SourceError("sqlite source needs 'table' or 'query' option")
        # SQLite has no result-type metadata for arbitrary queries; probe
        # one row and type from Python values (string when all-NULL/empty).
        con = _connect(self.options["path"])
        try:
            cur = con.execute(f"SELECT * FROM ({query}) LIMIT 1")
            names = [d[0] for d in cur.description]
            row = cur.fetchone()
        finally:
            con.close()
        py_to_spark = {int: T.LongType(), float: T.DoubleType(), bytes: T.BinaryType()}
        fields = []
        for i, name in enumerate(names):
            v = row[i] if row is not None else None
            fields.append(T.StructField(name, py_to_spark.get(type(v), T.StringType()), True))
        return StructType(fields)

    def reader(self, schema: StructType) -> DataSourceReader:
        return SQLiteReader(self.options, schema)


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
