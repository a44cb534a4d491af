"""DuckDB source — Spark 4 Python DataSource with SQL pushdown.

Reference: crates/connectors/src/sources/sql/duckdb.rs (schema via
PRAGMA table_info, duckdb.rs:49-76; query execution duckdb.rs:83-110 —
the reference ships Substrait plan bytes; we ship SQL text, which DuckDB
accepts natively, so the Substrait layer is unnecessary in this design).

Spark-first shape:
- scans run ON EXECUTORS: each Spark partition opens its own read-only
  DuckDB connection and streams Arrow record batches straight into the
  scan (no driver materialization), so a 1000-executor cluster fans out
  1000 concurrent range scans;
- remote filtering comes from whole-statement federation pushdown or
  an explicit ``where`` option, not ``pushFilters`` (see DuckDBReader);
- a numeric ``partition_column`` splits the table into range partitions
  exactly like Spark's JDBC reader.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from strake_spark.config import SourceConfig
from strake_spark.errors import SourceError
from strake_spark.sources import pushsql
from strake_spark.sources.registry import source_type

FORMAT_NAME = "strake_duckdb"


def _connect(path: str):
    import duckdb

    con = duckdb.connect(path, read_only=True)
    pushsql.on_cancel(con.interrupt)
    return con


def _table_sql(options) -> str:
    query = options.get("query")
    if query:
        return f"({query})"
    table = options.get("table")
    if not table:
        raise SourceError("duckdb source needs 'table' or 'query' option")
    return pushsql.quote_ident(table)


@dataclass
class _Slice(InputPartition):
    predicate: str | None


class DuckDBReader(DataSourceReader):
    """Deliberately does NOT implement ``pushFilters``: Spark's
    PythonDataSourceV2 caches one read plan per shared TableProvider and
    the pushdown rule mutates it (setReadInfo), so two scans of the same
    relation with different filters (a self-join, or a filtered query
    followed by an unfiltered one on a temp view) silently read each
    other's filtered data. Every scan here derives only from the
    (immutable) options, so a cached/stale read plan is always
    semantically identical. Remote filtering still happens at the right
    place: whole-statement federation pushdown (plans/federation.py)
    ships the entire query — filters included — to DuckDB, and the
    ``where`` option lets callers pin a scan-level predicate explicitly."""

    def __init__(self, options, schema: StructType) -> None:
        self.options = options
        self.schema = schema

    def partitions(self):
        col = self.options.get("partition_column")
        n = int(self.options.get("num_partitions", "1"))
        if not col or n <= 1:
            return [_Slice(None)]
        con = _connect(self.options["path"])
        try:
            qc = pushsql.quote_ident(col)
            lo, hi = con.execute(
                f"SELECT min({qc}), max({qc}) FROM {_table_sql(self.options)}"
            ).fetchone()
        finally:
            con.close()
        return [_Slice(r.predicate()) for r in pushsql.plan_ranges(col, lo, hi, n)]

    def read(self, partition: _Slice):
        where = self.options.get("where")
        sql = pushsql.build_select(
            _table_sql(self.options),
            list(self.schema.fieldNames()),
            [where] if where else [],
            extra_predicate=partition.predicate,
        )
        con = _connect(self.options["path"])
        try:
            reader = con.execute(sql).fetch_record_batch(10_000)
            for batch in reader:
                yield batch
        finally:
            con.close()


class DuckDBDataSource(DataSource):
    """spark.read.format("strake_duckdb").option("path", db)
    .option("table"|"query", ...).option("partition_column", c)
    .option("num_partitions", n).load()"""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        con = _connect(self.options["path"])
        try:
            empty = con.execute(
                f"SELECT * FROM {_table_sql(self.options)} LIMIT 0"
            ).arrow()
        finally:
            con.close()
        return from_arrow_schema(empty.schema, prefer_timestamp_ntz=True)

    def reader(self, schema: StructType) -> DataSourceReader:
        return DuckDBReader(self.options, schema)


def discover_tables(path: str) -> list[str]:
    con = _connect(path)
    try:
        rows = con.execute(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_schema = 'main' ORDER BY table_name"
        ).fetchall()
    finally:
        con.close()
    return [r[0] for r in rows]


@source_type("duckdb")
def register_duckdb_source(spark: SparkSession, cfg: SourceConfig) -> list[str]:
    if not cfg.url:
        raise SourceError(f"duckdb source {cfg.name!r} needs url (database file path)")
    names = [t.name for t in cfg.tables] or discover_tables(cfg.url)
    return pushsql.register_tables(
        spark, cfg, DuckDBDataSource, "duckdb", {"path": cfg.url}, names, default_partitions=8
    )
