"""Source-type registry: maps a config ``type:`` string to a register
function, mirroring the reference's registry
(crates/connectors/src/sources/mod.rs:75-105: parquet/csv/json -> file,
iceberg -> iceberg_rest, plus sql/flight/rest/grpc providers).

A register function has signature ``fn(spark, source_cfg) -> list[str]``
and returns the fully-qualified view names it registered. Views are
namespaced ``<source>_<table>`` (Spark temp views are single-part; the
reference uses strake.<source>.<table>, crates/runtime/src/
federation.rs:176 + sources/sql/mod.rs:73-80).
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from typing import TypeVar

from pyspark import InheritableThread
from pyspark.sql import SparkSession

from strake_spark.config import SourceConfig
from strake_spark.errors import SourceError
from strake_spark.session import default_parallelism

RegisterFn = Callable[[SparkSession, SourceConfig], list[str]]

T = TypeVar("T")
R = TypeVar("R")

SOURCE_TYPES: dict[str, RegisterFn] = {}


@dataclass(frozen=True)
class RemoteTable:
    """Provenance of a registered view that lives in an external SQL
    engine — the unit the federation planner groups by. ``dialect`` +
    ``url`` play the role of the reference's SQLExecutor
    ``compute_context`` (connection identity,
    crates/connectors/src/sources/sql/postgres_federation.rs:46-49).
    ``schema`` is the remote namespace of ``table``, when it has one."""

    source: str
    dialect: str
    url: str
    table: str
    schema: str | None = None
    # Executes one SQL statement INSIDE the remote engine, returning the
    # result as a DataFrame scan — the federation planner's vehicle for
    # whole-statement pushdown. None => this source can't push.
    push_query: Callable[[SparkSession, str], "object"] | None = None
    # Answers a pushed statement on the driver as a pyarrow.Table
    # (pushsql.DriverFetch); None => only the Spark scan can read it.
    fetch: "object | None" = None

    def context(self) -> str:
        return f"{self.dialect}://{self.url}"

    def scan(self, spark: SparkSession, sql: str):
        """The Spark scan of ``sql`` pushed to this source. With a driver
        ``fetch`` the schema comes from the source's own probe on the
        driver, so ``load()`` calls no Python worker."""
        if self.fetch is None:
            return self.push_query(spark, sql)
        return self.push_query(spark, sql, self.fetch.schema(sql))

    def table_sql(self) -> str:
        """The physical table as quoted SQL: ``"schema"."table"``."""
        from strake_spark.sources.pushsql import quote_ident

        parts = (self.schema, self.table) if self.schema else (self.table,)
        return ".".join(quote_ident(p) for p in parts)


# view name -> remote provenance (views without an entry are local files)
REMOTE_TABLES: dict[str, RemoteTable] = {}


def remember_remote(view: str, remote: RemoteTable) -> None:
    REMOTE_TABLES[view] = remote


def forget_views(spark: SparkSession, views: Iterable[str]) -> None:
    """Drop registered ``views`` and their remote entries (a construction
    that failed takes back what its other sources registered)."""
    for v in views:
        spark.catalog.dropTempView(v)
        REMOTE_TABLES.pop(v, None)
    bump_catalog_epoch()


# (id(SparkContext), DataSource class) pairs already registered
_FORMATS: set[tuple[int, type]] = set()
_formats_lock = threading.Lock()


def ensure_format(spark: SparkSession, cls: type) -> None:
    """Register a Python DataSource class with the session's context,
    once per context, also when sources register concurrently. The only
    caller of ``spark.dataSource.register`` in the package (a tier-1
    test greps for it)."""
    key = (id(spark.sparkContext), cls)
    with _formats_lock:
        if key not in _FORMATS:
            spark.dataSource.register(cls)
            _FORMATS.add(key)


def source_type(*names: str):
    def deco(fn: RegisterFn) -> RegisterFn:
        for n in names:
            SOURCE_TYPES[n] = fn
        return fn

    return deco


# Process-wide catalog epoch: bumped whenever a source or function is
# (re-)registered. Engines sharing one SparkSession see each other's
# registrations, so the epoch is global, not per engine; the result
# cache's text keys include it.
_epoch_lock = threading.Lock()
_catalog_epoch = 0


def catalog_epoch() -> int:
    return _catalog_epoch


def bump_catalog_epoch() -> None:
    global _catalog_epoch
    with _epoch_lock:
        _catalog_epoch += 1


def register_source(spark: SparkSession, cfg: SourceConfig) -> list[str]:
    try:
        fn = SOURCE_TYPES[cfg.type]
    except KeyError:
        raise SourceError(
            f"unknown source type {cfg.type!r} (known: {sorted(SOURCE_TYPES)})"
        ) from None
    try:
        return fn(spark, cfg)
    finally:
        # after the views are replaced: a key computed from now on can
        # never meet a plan made over the old views
        bump_catalog_epoch()


# the threads the current thread may run registration work on, itself
# included; unset means default_parallelism()
_share = threading.local()


def ordered_map(fn: Callable[[T], R], items: Iterable[T]) -> list[R]:
    """``[fn(x) for x in items]``, run concurrently: the one thread pool
    of registration (a tier-1 test greps for it). The calling thread is
    one of at most its share of ``default_parallelism()`` threads, and
    it hands each worker an equal part of that share, so a nested call
    (a source's tables inside the engine's sources) never multiplies
    past the bound. Every thread is joined before this returns; when
    items fail, the error of the first failing item in order is raised.

    Not a ThreadPoolExecutor: its workers are plain threads, and the
    workers here are PySpark InheritableThreads, which carry the
    caller's Spark local properties (scheduler pool, job group) into
    the Spark jobs that registering starts."""
    items = list(items)
    budget = getattr(_share, "threads", None) or default_parallelism()
    n = min(len(items), budget)
    if n <= 1:
        return [fn(x) for x in items]
    shares = [budget // n + (k < budget % n) for k in range(n)]
    results: list = [None] * len(items)
    errors: list[Exception | None] = [None] * len(items)
    todo = iter(enumerate(items))
    lock = threading.Lock()

    def work(share: int) -> None:
        _share.threads = share
        while True:
            with lock:
                i, x = next(todo, (None, None))
            if i is None:
                return
            try:
                results[i] = fn(x)
            except Exception as e:  # noqa: BLE001 - raised in order below
                errors[i] = e

    threads = [InheritableThread(work, args=(s,), name=f"strake-register-{k}", daemon=True)
               for k, s in enumerate(shares[1:], 1)]
    for t in threads:
        t.start()
    outer = getattr(_share, "threads", None)
    try:
        work(shares[0])
    finally:
        _share.threads = outer
        for t in threads:
            t.join()
    for e in errors:
        if e is not None:
            raise e
    return results


# Populate the registry.
from strake_spark.sources import file as _file  # noqa: E402,F401

for _mod in ("duck", "sqlite", "jdbc", "rest", "flight", "iceberg", "grpc_source",
             "pgwire", "clickhouse_http", "mysqlwire", "iceberg_native", "xlsx",
             "avro_source", "github"):
    try:
        __import__(f"strake_spark.sources.{_mod}")
    except ModuleNotFoundError as e:  # pragma: no cover
        if e.name != f"strake_spark.sources.{_mod}":
            raise
