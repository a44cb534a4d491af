"""Columnar text -> Arrow RecordBatch decoding for the jar-free wire
sources (pgwire / mysqlwire / clickhouse_http).

All three wire protocols deliver resultsets as *text* cells. The first
implementation decoded every cell through per-value Python conditionals
and yielded row tuples, which Spark then pickled row-at-a-time — pure
interpreter work on the scan hot path. This module replaces that with
the shape the reference gets from its Rust->Arrow builders
(crates/connectors/src/sources/sql/postgres_federation.rs:7-10): cells
accumulate column-wise per resultset chunk and parse inside Arrow's C++
cast kernels (string->int/float/decimal128/date32/timestamp are all
native casts), producing `pyarrow.RecordBatch`es that Spark 4's Python
DataSource ingests directly — no per-row pickling, no per-cell Python.

Decimal columns parse to `decimal128(p, s)` exactly — the wire sources
map NUMERIC/NEWDECIMAL/Decimal(p,s) to `DecimalType(p, s)` when p <= 38
(Spark's max), so a numeric(38,10) balance round-trips bit-for-bit
instead of collapsing to float64.

Boolean text differs per protocol: Postgres sends ``t``/``f``,
ClickHouse/MySQL send ``true``/``false``/``1``/``0`` — `bool_style`
selects the parse.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T
from pyspark.sql.types import StructType

from strake_spark.errors import SourceError

#: rows per emitted RecordBatch. Big enough to amortize the per-batch
#: Arrow/JVM handoff, small enough that a 32-partition scan's in-flight
#: batches stay far under executor memory even with wide rows.
DEFAULT_BATCH_ROWS = 4096


def arrow_type(dt: T.DataType) -> pa.DataType:
    """Spark type -> the Arrow type Spark's datasource ingest expects
    (session timezone is pinned to UTC by session.build_session)."""
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    if isinstance(dt, T.DateType):
        return pa.date32()
    if isinstance(dt, T.TimestampNTZType):
        return pa.timestamp("us")
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(dt, T.StringType):
        return pa.string()
    raise SourceError(f"wire sources cannot decode Spark type {dt.simpleString()}")


class TextBatchBuilder:
    """Accumulates rows of text cells (str | bytes | None) and emits
    Arrow RecordBatches matching a Spark schema. ``text_batches`` runs
    the add_row/flush loop a DataSourceReader.read needs."""

    def __init__(self, schema: StructType, *, batch_rows: int = DEFAULT_BATCH_ROWS,
                 bool_style: str = "word"):
        if bool_style not in ("word", "tf"):
            raise SourceError(f"unknown bool_style {bool_style!r}")
        self._names = list(schema.fieldNames())
        self._types = [arrow_type(f.dataType) for f in schema.fields]
        self._arrow_schema = pa.schema(
            [pa.field(n, t, nullable=True) for n, t in zip(self._names, self._types)]
        )
        self._bool_style = bool_style
        self._batch_rows = batch_rows
        self._rows: list[Sequence] = []

    @property
    def arrow_schema(self) -> pa.Schema:
        return self._arrow_schema

    def add_row(self, cells: Sequence) -> pa.RecordBatch | None:
        self._rows.append(cells)
        if len(self._rows) >= self._batch_rows:
            return self.flush()
        return None

    def flush(self) -> pa.RecordBatch | None:
        if not self._rows:
            return None
        ncols = len(self._names)
        if any(len(r) != ncols for r in self._rows):
            raise SourceError(
                f"wire row width mismatch: expected {ncols} columns"
            )
        cols = list(zip(*self._rows)) if self._rows else [()] * ncols
        self._rows = []
        arrays = []
        for name, typ, cells in zip(self._names, self._types, cols):
            try:
                # pa.array accepts bytes elements for string arrays and
                # validates UTF-8 — no per-cell .decode() needed.
                text = pa.array(cells, type=pa.string())
                arrays.append(self._parse(text, typ))
            except (pa.ArrowInvalid, pa.ArrowTypeError, ValueError) as e:
                raise SourceError(
                    f"cannot decode column {name!r} as {typ}: {e}"
                ) from e
        return pa.RecordBatch.from_arrays(arrays, schema=self._arrow_schema)

    def _parse(self, text: pa.Array, typ: pa.DataType) -> pa.Array:
        if typ == pa.string():
            return text
        if typ == pa.bool_():
            if self._bool_style == "tf":
                return pc.equal(text, "t")
            return text.cast(pa.bool_())
        if pa.types.is_decimal(typ):
            # pyarrow 16's string->decimal128 cast silently WRAPS when
            # the digits exceed the precision. The server already
            # enforces (p, s) on its side, so in-range is the invariant
            # — this guard turns a protocol/typmod mix-up into a loud
            # error instead of corrupt values. The real constraint is
            # SIGNIFICANT INTEGER DIGITS <= p - s (a width bound lets
            # e.g. '9999.99' slip past decimal(5,2) and wrap); fraction
            # overflow is rejected by the cast itself.
            intpart = pc.replace_substring_regex(
                text, r"^[+-]?0*([0-9]*)([.].*)?$", r"\1"
            )
            max_int_digits = pc.max(pc.utf8_length(intpart)).as_py() or 0
            if max_int_digits > typ.precision - typ.scale:
                raise SourceError(
                    f"decimal text has {max_int_digits} integer digits > "
                    f"precision-scale {typ.precision - typ.scale} for "
                    f"decimal({typ.precision},{typ.scale}) — server/"
                    "declared type mismatch"
                )
            return text.cast(typ)
        # int/float/date/timestamp all parse inside Arrow's cast
        # kernels (C++), including ISO dates and 'YYYY-MM-DD HH:MM:SS
        # [.ffffff][+TZ]' timestamps.
        return text.cast(typ)


def text_batches(schema: StructType, rows: Iterable[Sequence], *,
                 bool_style: str = "word") -> Iterator[pa.RecordBatch]:
    """Stream ``rows`` of text cells as RecordBatches of ``schema``."""
    builder = TextBatchBuilder(schema, bool_style=bool_style)
    for cells in rows:
        batch = builder.add_row(cells)
        if batch is not None:
            yield batch
    tail = builder.flush()
    if tail is not None:
        yield tail
