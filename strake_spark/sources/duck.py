"""DuckDB source — Spark 4 Python DataSource with SQL pushdown.

Reference: crates/connectors/src/sources/sql/duckdb.rs (schema via
PRAGMA table_info, duckdb.rs:49-76; query execution duckdb.rs:83-110 —
the reference ships Substrait plan bytes; we ship SQL text, which DuckDB
accepts natively, so the Substrait layer is unnecessary in this design).

Scans run through the shared reader (``pushsql.SqlSource``) ON
EXECUTORS: each Spark partition opens its own read-only DuckDB
connection and streams Arrow record batches straight into the scan (no
driver materialization), so a 1000-executor cluster fans out 1000
concurrent range scans. This module adds only the connection, the Arrow
schema probe and the batch stream.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

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


class DuckDBDataSource(pushsql.SqlSource):
    """spark.read.format("strake_duckdb").option("path", db)
    .option("table"|"query", ...).option("partition_column", c)
    .option("num_partitions", n).load()"""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _connect(self):
        return _connect(self.options["path"])

    def _probe(self, con, sql):
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(con.execute(sql).arrow().schema, prefer_timestamp_ntz=True)

    def _bounds(self, con, sql):
        return con.execute(sql).fetchone()

    def _rows(self, con, sql, schema):
        return con.execute(sql).fetch_record_batch(10_000)


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


def _check_schemas(cfg: SourceConfig) -> None:
    """Refuse a table whose ``schema`` also names an attached catalog:
    DuckDB attaches the database file under its stem (``sales.duckdb``
    is catalog ``sales``), and ``"sales"."orders"`` is then ambiguous."""
    if not any(t.schema for t in cfg.tables):
        return
    con = _connect(cfg.url)
    try:
        rows = con.execute("SELECT database_name FROM duckdb_databases()").fetchall()
    finally:
        con.close()
    catalogs = {r[0].lower() for r in rows}
    for t in cfg.tables:
        if t.schema and t.schema.lower() in catalogs:
            raise SourceError(
                f"duckdb source {cfg.name!r} table {t.name!r}: schema {t.schema!r} is "
                "ambiguous, as a database catalog has the same name; rename the "
                "schema or the database file"
            )


@source_type("duckdb")
def register_duckdb_source(spark: SparkSession, cfg: SourceConfig) -> list[str]:
    if not cfg.url:
        raise SourceError(f"duckdb source {cfg.name!r} needs url (database file path)")
    _check_schemas(cfg)
    names = [t.name for t in cfg.tables] or discover_tables(cfg.url)
    return pushsql.register_tables(
        spark, cfg, DuckDBDataSource, "duckdb", {"path": cfg.url}, names, default_partitions=8
    )
