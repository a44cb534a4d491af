"""JDBC sources — Postgres / MySQL / ClickHouse / generic JDBC.

Reference: crates/connectors/src/sources/sql/{postgres,mysql,clickhouse}.rs
register pooled table providers with per-scan pushdown; same-source
multi-table pushdown happens in the federation layer.

Spark-first: ``spark.read.format("jdbc")`` IS the reference's table
provider — the JVM JDBC DSv2 already does predicate/limit/aggregate
pushdown (we turn all three on), per-partition parallel reads via
``partitionColumn/numPartitions``, and dialect-aware type mapping. Our
code is only the config plumbing + RemoteTable provenance so the
federation planner (plans/federation.py) can push whole same-source
statements via ``query=(...)``.

JDBC drivers are not vendored in this environment; registration raises
a clear SourceError if the driver class is missing. The code path is
standard Spark and runs unmodified on any cluster with the driver jar
on the classpath.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from strake_spark.config import SourceConfig
from strake_spark.errors import SourceError
from strake_spark.sources.registry import RemoteTable, remember_remote, source_type

_DIALECTS = {
    "postgres": ("org.postgresql.Driver", "postgresql"),
    "postgresql": ("org.postgresql.Driver", "postgresql"),
    "mysql": ("com.mysql.cj.jdbc.Driver", "mysql"),
    "mariadb": ("org.mariadb.jdbc.Driver", "mariadb"),
    "clickhouse": ("com.clickhouse.jdbc.ClickHouseDriver", "clickhouse"),
    "jdbc": (None, None),
}


def jdbc_url(cfg: SourceConfig) -> str:
    url = cfg.url or ""
    if url.startswith("jdbc:"):
        return url
    _, scheme = _DIALECTS[cfg.type]
    if scheme and "://" in url:
        return f"jdbc:{scheme}:{url[url.index('://'):]}"
    raise SourceError(f"source {cfg.name!r}: cannot derive a jdbc: url from {url!r}")


def _reader(spark: SparkSession, cfg: SourceConfig):
    reader = (
        spark.read.format("jdbc")
        .option("url", jdbc_url(cfg))
        # scan-level pushdown: the reference's per-provider
        # supports_filters_pushdown analog, handled by the JVM
        .option("pushDownPredicate", "true")
        .option("pushDownLimit", "true")
        .option("pushDownAggregate", "true")
    )
    driver, _ = _DIALECTS[cfg.type]
    if cfg.options.get("driver") or driver:
        reader = reader.option("driver", str(cfg.options.get("driver", driver)))
    if cfg.username:
        reader = reader.option("user", cfg.username)
    if cfg.password:
        reader = reader.option("password", cfg.password)
    for k in ("fetchsize", "queryTimeout", "sessionInitStatement"):
        if k in cfg.options:
            reader = reader.option(k, str(cfg.options[k]))
    return reader


@source_type(*_DIALECTS)
def register_jdbc_source(spark: SparkSession, cfg: SourceConfig) -> list[str]:
    from strake_spark.sources.file import view_name

    if not cfg.tables:
        raise SourceError(
            f"jdbc source {cfg.name!r} needs explicit tables (no discovery "
            "without a live connection)"
        )

    def push_query(spark: SparkSession, sql: str):
        return _reader(spark, cfg).option("query", sql).load()

    registered: list[str] = []
    for tbl in cfg.tables:
        view = view_name(cfg.name, tbl.name)
        reader = _reader(spark, cfg).option(
            "dbtable", f"{tbl.schema}.{tbl.name}" if tbl.schema else tbl.name
        )
        if tbl.partition_column:
            reader = (
                reader.option("partitionColumn", tbl.partition_column)
                .option("numPartitions", str(cfg.options.get("num_partitions", 8)))
                # bounds refreshed per registration; Spark requires them
                .option("lowerBound", str(tbl.options.get("lower_bound", 0)))
                .option("upperBound", str(tbl.options.get("upper_bound", 1 << 31)))
            )
        try:
            df = reader.load()
        except Exception as e:
            if "ClassNotFoundException" in str(e) or "No suitable driver" in str(e):
                raise SourceError(
                    f"jdbc driver for source {cfg.name!r} ({cfg.type}) not on "
                    f"the classpath; add the driver jar via spark.jars"
                ) from e
            raise
        declared = tbl.struct_type()
        if declared is not None:
            from strake_spark.sources.drift import reconcile

            df = reconcile(df, declared, context=view)
        df.createOrReplaceTempView(view)
        remember_remote(
            view,
            RemoteTable(
                cfg.name, cfg.type, jdbc_url(cfg), tbl.name, schema=tbl.schema,
                push_query=push_query,
            ),
        )
        registered.append(view)
    return registered
