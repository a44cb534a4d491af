"""The one shared layer of the SQL-speaking Python DataSources (duckdb,
sqlite, postgres_wire, mysql_wire, clickhouse_http), like the
reference's shared SQL-source module (crates/connectors/src/sources/
sql/mod.rs) over datafusion-table-providers.

``SqlSource`` and ``SqlReader`` are the one schema/partitions/read of
these sources; each source module adds only how it connects (and
registers ``on_cancel``), its schema probe and type mapping, how it
reads a min/max row and streams rows or Arrow batches, its identifier
quote and its default partition column. Scan text follows the
reference's identifier and literal rules (crates/sql/src/sql_generator/
sanitize.rs:4-36, expr.rs). A ``partition_column`` splits the relation
into N half-open ranges as Spark's JDBC reader does, so N executors read
concurrently, each with its own connection.

``SqlReader`` implements no ``pushFilters``: Spark's PythonDataSourceV2
caches one read plan per shared TableProvider and the pushdown rule
mutates it (setReadInfo), so two scans of the same relation with
different filters (a self-join, or a filtered query followed by an
unfiltered one on a temp view) would silently read each other's filtered
data. Every scan derives only from the (immutable) options, so a cached
read plan is always semantically identical. Remote filtering happens in
the federation ladder (plans/federation.py ships whole statements, with
their filters, as a ``query``) and in the ``where`` option, raw SQL text
the caller supplies.

``register_tables`` is the one registration path of these sources: one
view per table, one ``push_query`` for the federation ladder, and one
``DriverFetch`` that answers a pushed statement on the driver.
``execute()`` collects every result to the driver anyway, and a pushed
statement reads as one partition, so for a statement the remote runs
whole Spark adds only a Python-worker schema call, a worker scan and two
Arrow conversions; the reference streams such a plan's remote batches
straight back as Arrow.

The driver read runs under a deadline (``deadline``): each source
registers how to stop its connection (``on_cancel``: DuckDB/sqlite
``interrupt()``, a socket shutdown for the wire sources), and the
deadline's timer runs those stops, so the read ends on the thread that
started it and no thread outlives the statement.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import decimal
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from strake_spark.config import SourceConfig
from strake_spark.errors import QueryTimeout, SourceError

# Most rows a shipped subtree or partial-scan fragment may have to be
# answered on the driver and registered as an in-memory relation; a
# larger fragment keeps its Spark scan. Below the measured crossover of
# driver fetch + createDataFrame against the Python-worker scan (4-core
# box, 5 columns: 100k rows 0.72 vs 0.90 s, 150k rows 1.08 vs 0.94 s).
FETCH_ROWS_MAX = 100_000

_BAD_IDENT_CHARS = set('"\0;`\\')


def quote_ident(name: str) -> str:
    """Double-quote an identifier after the reference's safety checks
    (sanitize.rs:4-36: reject empty, >128 chars, quote/NUL/semicolon/
    backtick/backslash)."""
    if not name or len(name) > 128 or any(c in _BAD_IDENT_CHARS for c in name):
        raise SourceError(f"unsafe identifier: {name!r}")
    return f'"{name}"'


def sql_literal(value) -> str:
    """Self-contained SQL literal. Rejects what has no portable safe
    encoding: NUL inside strings (terminates literals in several
    engines — hypothesis-found injection surface) and binary values
    (X'..' hex is not universal; DuckDB parses it as a string). Callers
    treat SourceError as 'keep this predicate local'."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return repr(value)
    if isinstance(value, float):
        # quoted-string route: a bare decimal literal parses as DECIMAL
        # in some engines, and DECIMAL->DOUBLE casts are not always
        # correctly rounded (hypothesis-found ULP drift in DuckDB);
        # string->double parsing is correctly rounded everywhere
        return f"CAST('{value!r}' AS DOUBLE PRECISION)"
    if isinstance(value, _dt.datetime):
        return f"TIMESTAMP '{value.isoformat(sep=' ')}'"
    if isinstance(value, _dt.date):
        return f"DATE '{value.isoformat()}'"
    if isinstance(value, (bytes, bytearray)):
        raise SourceError("binary literals are not portable; not pushed")
    s = str(value)
    if "\x00" in s:
        raise SourceError("NUL in string literal; not pushed")
    return "'" + s.replace("'", "''") + "'"


def build_select(
    table_sql: str,
    columns: list[str],
    predicates: list[str],
    quote: Callable[[str], str],
) -> str:
    """Compose the remote scan query. ``table_sql`` is either a quoted
    table name or a parenthesized subquery; ``quote`` quotes a column."""
    sql = f"SELECT {', '.join(quote(c) for c in columns) or '*'} FROM {table_sql}"
    if predicates:
        sql += " WHERE " + " AND ".join(f"({p})" for p in predicates)
    return sql


@dataclass(frozen=True)
class RangePartition:
    """Half-open numeric range predicate (NULLs ride with the first slice),
    same contract as Spark's JDBC partitioning."""

    column: str
    lower: float | int | None  # None => unbounded below (also catches NULL)
    upper: float | int | None  # None => unbounded above

    def predicate(self, quote: Callable[[str], str] = quote_ident) -> str | None:
        c = quote(self.column)
        if self.lower is None and self.upper is None:
            return None
        if self.lower is None:
            return f"{c} < {sql_literal(self.upper)} OR {c} IS NULL"
        if self.upper is None:
            return f"{c} >= {sql_literal(self.lower)}"
        return f"{c} >= {sql_literal(self.lower)} AND {c} < {sql_literal(self.upper)}"


def plan_ranges(column: str, lo, hi, n: int) -> list[RangePartition]:
    """Split [lo, hi] into n contiguous ranges, unbounded at both ends so
    no row is ever lost to stale min/max statistics."""
    if lo is None or hi is None or n <= 1 or lo >= hi:
        return [RangePartition(column, None, None)]
    step = (hi - lo) / n
    bounds = [lo + step * i for i in range(1, n)]
    if isinstance(lo, int) and isinstance(hi, int):
        bounds = sorted({int(b) for b in bounds})
    parts: list[RangePartition] = []
    prev = None
    for b in bounds:
        parts.append(RangePartition(column, prev, b))
        prev = b
    parts.append(RangePartition(column, prev, None))
    return parts


# ------------------------------------------------------- the shared reader

_RANGEABLE = (int, float, decimal.Decimal, _dt.date)  # datetime is a date


@dataclass
class _Slice(InputPartition):
    predicate: str | None


class SqlSource(DataSource):
    """A table (``table``, with an optional ``schema``) or a statement
    (``query``) of one SQL-speaking remote. Options: ``where`` (raw SQL
    text ANDed into every scan), ``partition_column`` and
    ``num_partitions``. A subclass supplies ``name()`` and what differs
    per remote:

    - ``_connect()``: a connection with ``close()``; it registers its
      stop with ``on_cancel``;
    - ``_probe(con, sql)``: the ``StructType`` of a statement that
      returns no rows;
    - ``_bounds(con, sql)``: the ``(min, max)`` row of a statement;
    - ``_rows(con, sql, schema)``: the statement's rows, as Arrow
      record batches or row tuples;
    - ``quote``: its identifier quote; ``default_partition_column``: the
      column a table splits on when ``num_partitions`` is given alone.
    """

    quote = staticmethod(quote_ident)
    default_partition_column: str | None = None

    def relation(self) -> str:
        """The scanned relation as SQL: ``(<query>) AS q`` or the quoted
        ``"schema"."table"``."""
        query = self.options.get("query")
        if query:
            return f"({query}) AS q"
        table = self.options.get("table")
        if not table:
            raise SourceError(f"{self.name()} source needs 'table' or 'query' option")
        schema = self.options.get("schema")
        return f"{self.quote(schema)}.{self.quote(table)}" if schema else self.quote(table)

    def schema(self) -> StructType:
        sql = f"SELECT * FROM {self.relation()} LIMIT 0"
        with contextlib.closing(self._connect()) as con:
            struct = self._probe(con, sql)
        if not struct.fields:
            raise SourceError(f"{self.name()} relation has no columns: {self.relation()}")
        return struct

    def reader(self, schema: StructType) -> DataSourceReader:
        return SqlReader(self, schema)


class SqlReader(DataSourceReader):
    """The one reader of every ``SqlSource``; see the module docstring
    for why it implements no ``pushFilters``."""

    def __init__(self, source: SqlSource, schema: StructType) -> None:
        self.source = source
        self.schema = schema

    def partitions(self) -> list[_Slice]:
        source, options = self.source, self.source.options
        column = options.get("partition_column") or (
            source.default_partition_column if options.get("table") else None)
        n = int(options.get("num_partitions", "1"))
        if not column or n <= 1:
            return [_Slice(None)]
        qc = source.quote(column)
        with contextlib.closing(source._connect()) as con:
            lo, hi = source._bounds(con, f"SELECT min({qc}), max({qc}) FROM {source.relation()}")
        for v in (lo, hi):
            if v is not None and not isinstance(v, _RANGEABLE):
                raise SourceError(
                    f"partition_column {column!r} is non-rangeable (its bounds are "
                    f"{type(v).__name__}); use a numeric, date or timestamp column"
                )
        return [_Slice(r.predicate(source.quote)) for r in plan_ranges(column, lo, hi, n)]

    def read(self, partition: _Slice):
        source = self.source
        where = source.options.get("where")
        predicates = [p for p in (where, partition.predicate) if p]
        sql = build_select(source.relation(), self.schema.fieldNames(), predicates, source.quote)
        with contextlib.closing(source._connect()) as con:
            yield from source._rows(con, sql, self.schema)


def register_tables(
    spark: SparkSession,
    cfg: SourceConfig,
    source_cls: type[SqlSource],
    dialect: str,
    base: dict[str, str],
    names: list[str],
    default_partitions: int | None = None,
) -> list[str]:
    """Register view ``<source>_<table>`` for each of ``names`` over
    ``source_cls`` and record it as a remote of ``dialect``. ``base``
    holds the connection options that every scan and every pushed
    statement share. A table with a declared ``partition_column`` reads
    in the source's explicit ``num_partitions``, else in
    ``default_partitions``; an explicit value applies without a column
    too, for readers that split by an implicit key (sqlite's rowid).
    Each table loads once, concurrently with the others, with its schema
    from the source's own probe on the driver, so ``load()`` calls no
    Python worker; declared columns reconcile drift. A table's
    ``schema`` names its remote namespace: its scans read
    ``"schema"."table"`` and pushed statements name it qualified."""
    from pyspark.sql.datasource import CaseInsensitiveDict

    from strake_spark.sources.drift import reconcile
    from strake_spark.sources.file import view_name
    from strake_spark.sources.registry import (
        RemoteTable,
        ensure_format,
        ordered_map,
        remember_remote,
    )

    ensure_format(spark, source_cls)
    fmt = source_cls.name()

    def push_query(spark: SparkSession, sql: str, schema=None):
        # a given schema (the driver's probe) spares load() the Python
        # worker's schema call; the scan then creates the source
        read = spark.read.format(fmt).options(**base).option("query", sql)
        return (read if schema is None else read.schema(schema)).load()

    fetch = DriverFetch(source_cls, base)

    declared = {t.name: t for t in cfg.tables}

    def register(name: str) -> str:
        tbl = declared.get(name)
        column = tbl.partition_column if tbl is not None else None
        schema = tbl.schema if tbl is not None else None
        options = dict(base, table=name)
        if schema:
            options["schema"] = schema
        if column:
            options["partition_column"] = column
        n_parts = cfg.options.get("num_partitions") or (default_partitions if column else None)
        if n_parts:
            options["num_partitions"] = str(n_parts)
        view = view_name(cfg.name, name)
        struct = source_cls(CaseInsensitiveDict(options)).schema()
        df = spark.read.format(fmt).options(**options).schema(struct).load()
        columns = tbl.struct_type() if tbl is not None else None
        if columns is not None:
            df = reconcile(df, columns, context=view)
        df.createOrReplaceTempView(view)
        remember_remote(view, RemoteTable(
            cfg.name, dialect, cfg.url, name, schema=schema, push_query=push_query, fetch=fetch))
        return view

    return ordered_map(register, names)


# ------------------------------------------------------- driver-side reads


class _Cancel:
    """The stops of one deadline's reads; ``cancel`` runs each once."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._stops: list[Callable[[], None]] = []
        self.cancelled = False

    def add(self, stop: Callable[[], None]) -> None:
        with self._lock:
            if not self.cancelled:
                self._stops.append(stop)
                return
        _quietly(stop)

    def cancel(self) -> None:
        with self._lock:
            self.cancelled = True  # no stop is added after this
        for stop in self._stops:
            _quietly(stop)


def _quietly(stop: Callable[[], None]) -> None:
    try:
        stop()
    except Exception:  # noqa: BLE001 - the connection may be closed already
        pass


_scope = threading.local()


def on_cancel(stop: Callable[[], None]) -> None:
    """Register how to stop a connection a reader just opened, should
    the deadline of a driver-side read on this thread expire. A no-op
    outside such a read (in Spark's Python workers)."""
    cancel = getattr(_scope, "cancel", None)
    if cancel is not None:
        cancel.add(stop)


@contextlib.contextmanager
def deadline(seconds: float):
    """Bound the driver-side reads of the block to ``seconds``: at
    expiry every stop the readers registered runs, and the block raises
    ``QueryTimeout``. The reads stay on the calling thread; the timer
    thread is joined before this returns."""
    cancel = _Cancel()
    outer = getattr(_scope, "cancel", None)
    _scope.cancel = cancel
    timer = threading.Timer(max(seconds, 0.0), cancel.cancel)
    timer.daemon = True
    timer.start()
    try:
        yield
    except Exception as e:
        if cancel.cancelled:
            raise QueryTimeout(f"query exceeded {seconds:.0f}s; remote read cancelled") from e
        raise
    finally:
        timer.cancel()
        timer.join()
        _scope.cancel = outer
    if cancel.cancelled:
        raise QueryTimeout(f"query exceeded {seconds:.0f}s; remote read cancelled")


def _cancelled() -> bool:
    cancel = getattr(_scope, "cancel", None)
    return cancel is not None and cancel.cancelled


class DriverFetch:
    """Answer a statement pushed to one source on the driver: the
    source's own ``DataSource`` runs in process (``schema()``, then
    ``reader(schema).partitions()`` and ``read()``), and its batches are
    cast to the Arrow schema ``toArrow()`` gives for that ``StructType``,
    so both paths return the same table."""

    def __init__(self, source_cls: type[DataSource], base: dict[str, str]) -> None:
        self._cls = source_cls
        self._base = base

    def _source(self, sql: str) -> DataSource:
        from pyspark.sql.datasource import CaseInsensitiveDict

        return self._cls(CaseInsensitiveDict(self._base, query=sql))

    def schema(self, sql: str):
        """The statement's Spark schema, from the source's own probe
        (reads no rows)."""
        return self._source(sql).schema()

    def __call__(self, sql: str, max_rows: int | None = None, *,
                 schema=None, large_types: bool = False):
        """The statement's rows as a ``pyarrow.Table``. ``schema`` is the
        statement's ``StructType`` when the caller has probed it; with
        ``max_rows`` the read stops once it holds that many, and the
        table keeps the first ``max_rows``."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        source = self._source(sql)
        struct = schema if schema is not None else source.schema()
        target = to_arrow_schema(struct, error_on_duplicated_field_names_in_struct=True,
                                 prefers_large_types=large_types)
        reader = source.reader(struct)
        batches: list = []
        rows = 0
        for part in reader.partitions():
            if max_rows is not None and rows >= max_rows:
                break
            items = reader.read(part)
            try:
                for batch in _batches(items, target):
                    if _cancelled():
                        raise QueryTimeout("remote read cancelled")
                    batches.append(batch)
                    rows += batch.num_rows
                    if max_rows is not None and rows >= max_rows:
                        break
            finally:
                items.close()  # runs the reader's finally: its connection closes
        table = pa.Table.from_batches(batches, schema=target)
        return table if max_rows is None else table.slice(0, max_rows)


def _batches(items, target, chunk: int = 10_000):
    """Record batches of ``target`` from a reader's output, which yields
    Arrow record batches or row tuples."""
    import pyarrow as pa

    rows: list = []
    for item in items:
        if isinstance(item, pa.RecordBatch):
            yield item.rename_columns(target.names).cast(target, safe=False)
            continue
        rows.append(item)
        if len(rows) >= chunk:
            yield _rows_batch(rows, target)
            rows = []
    if rows:
        yield _rows_batch(rows, target)


def _rows_batch(rows: list, target):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(zip(*rows), target)], schema=target
    )
