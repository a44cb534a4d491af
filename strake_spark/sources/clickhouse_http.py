"""ClickHouse source over the native HTTP interface — no JDBC jar.

Reference: crates/connectors/src/sources/sql/clickhouse.rs (native
connector). ClickHouse ships a first-class HTTP query interface
(https://clickhouse.com/docs/en/interfaces/http): POST the SQL, get
``TSVWithNamesAndTypes`` back — names line, ClickHouse types line, then
TSV rows with backslash escapes and ``\\N`` nulls. That is the whole
protocol, so a stdlib http.client covers it end-to-end; the JDBC path
(sources/jdbc.py) remains for deployments that prefer the jar.

Scans run through the shared reader (``pushsql.SqlSource``), whose
partitions each issue their OWN http request executor-side with numeric
range predicates — N partitions = N concurrent server queries, and
ClickHouse's own parallelism handles each slice. ``push_query`` wires
whole-statement + partial federation pushdown with the clickhouse
dialect.

Auth: X-ClickHouse-User / X-ClickHouse-Key headers (the interface's
convention; also what clickhouse-connect sends).
"""

from __future__ import annotations

import decimal
import http.client
import socket
import urllib.parse

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.types import StructType

from strake_spark.config import SourceConfig
from strake_spark.errors import SourceError
from strake_spark.sources import pushsql
from strake_spark.sources.registry import source_type

FORMAT_NAME = "strake_clickhouse"


# ---------------------------------------------------------- type mapping
def _ch_to_spark(ch_type: str) -> T.DataType:
    t = ch_type.strip()
    while t.startswith(("Nullable(", "LowCardinality(")):
        t = t[t.index("(") + 1:-1]
    base = t.split("(")[0]
    if base in ("Int8", "Int16", "Int32", "UInt8", "UInt16"):
        return T.IntegerType()
    if base in ("Int64", "UInt32"):
        return T.LongType()
    if base in ("Int128", "Int256", "UInt64", "UInt128", "UInt256"):
        # UInt64+ can exceed long; ClickHouse renders them as text
        return T.StringType()
    if base in ("Float32", "Float64"):
        return T.DoubleType()
    if base == "Bool":
        return T.BooleanType()
    if base.startswith("Decimal"):
        # Decimal(P, S) / Decimal32(S) p=9 / Decimal64(S) p=18 /
        # Decimal128(S) p=38 map to the exact DecimalType; Decimal256
        # (p=76) exceeds Spark's 38-digit ceiling -> Double fallback
        # a malformed type string ("Decimal(5" with no closing paren —
        # the header is server bytes) must not escape as a raw
        # ValueError from rindex; no parseable args -> Double fallback
        args = [a.strip() for a in t[t.index("(") + 1:t.rindex(")")].split(",")] \
            if ("(" in t and ")" in t) else []
        try:
            if base == "Decimal" and len(args) == 2:
                p, s = int(args[0]), int(args[1])
            elif base in ("Decimal32", "Decimal64", "Decimal128") and len(args) == 1:
                p = {"Decimal32": 9, "Decimal64": 18, "Decimal128": 38}[base]
                s = int(args[0])
            else:
                return T.DoubleType()
        except ValueError:
            return T.DoubleType()
        if 1 <= p <= 38 and 0 <= s <= p:
            return T.DecimalType(p, s)
        return T.DoubleType()
    if base == "Date" or base == "Date32":
        return T.DateType()
    if base in ("DateTime", "DateTime64"):
        return T.TimestampNTZType()
    return T.StringType()


def _decode(value: str | None, dtype: T.DataType):
    if value is None:
        return None
    if isinstance(dtype, T.IntegerType) or isinstance(dtype, T.LongType):
        return int(value)
    if isinstance(dtype, T.DecimalType):
        return decimal.Decimal(value)
    if isinstance(dtype, T.DoubleType):
        return float(value)
    if isinstance(dtype, T.BooleanType):
        return value in ("true", "1")
    if isinstance(dtype, T.DateType):
        import datetime

        return datetime.date.fromisoformat(value)
    if isinstance(dtype, T.TimestampNTZType):
        import datetime

        return datetime.datetime.fromisoformat(value)
    return value


_UNESCAPE = {
    b"\\b": b"\b", b"\\f": b"\f", b"\\r": b"\r", b"\\n": b"\n",
    b"\\t": b"\t", b"\\0": b"\0", b"\\'": b"'", b"\\\\": b"\\",
}


def _utf8(raw: bytes) -> str:
    """Decode server bytes loudly: a String cell holding non-UTF-8
    (ClickHouse String is raw bytes) or a corrupted response must not
    kill the scan with a raw UnicodeDecodeError, nor silently mangle
    values — the loud error names the fix (cast to base64/hex
    server-side)."""
    try:
        return raw.decode()
    except UnicodeDecodeError as e:
        raise SourceError(
            f"clickhouse response field is not valid UTF-8 "
            f"({raw[:40]!r}...): cast binary String columns to "
            "base64Encode()/hex() in the query"
        ) from e


def _unescape_field(raw: bytes) -> str | None:
    if raw == b"\\N":
        return None
    if b"\\" not in raw:
        return _utf8(raw)
    out = bytearray()
    i = 0
    while i < len(raw):
        pair = raw[i:i + 2]
        if pair in _UNESCAPE:
            out += _UNESCAPE[pair]
            i += 2
        else:
            out.append(raw[i])
            i += 1
    return _utf8(bytes(out))


class ClickHouseHttp:
    """One-call-per-query HTTP client for TSVWithNamesAndTypes.
    ``ssl_ca`` pins a custom CA for https endpoints (system CAs used
    otherwise); ``insecure=True`` skips verification (lab clusters)."""

    def __init__(self, url: str, user: str = "default", password: str = "",
                 timeout: float = 60.0, ssl_ca: str | None = None,
                 insecure: bool = False):
        self.base = url.rstrip("/")
        self.user = user
        self.password = password
        self.timeout = timeout
        self._ctx = None
        if self.base.startswith("https://"):
            import ssl

            if insecure:
                self._ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
                self._ctx.check_hostname = False
                self._ctx.verify_mode = ssl.CERT_NONE
            else:
                self._ctx = ssl.create_default_context(cafile=ssl_ca)

    # One TSV line is one row (embedded newlines are escaped). A line
    # over this bound means a mis-framed or hostile byte stream with no
    # newlines — readline() would otherwise buffer it without limit
    # (r19 opt round, matching the pg/ssh frame-cap posture).
    _MAX_LINE = 256 * 1024 * 1024

    @classmethod
    def _bounded_line(cls, resp) -> bytes:
        ln = resp.readline(cls._MAX_LINE + 1)
        if len(ln) > cls._MAX_LINE:
            raise SourceError(
                f"clickhouse response line exceeds {cls._MAX_LINE} bytes "
                "(missing newline framing — truncated or hostile stream)"
            )
        return ln

    def query_iter(self, sql: str, header_out: list | None = None):
        """Stream rows line-by-line from the HTTP response (TSV escapes
        literal newlines as \\n inside fields, so line framing is
        exact). Appends [names, types] to ``header_out`` when given.
        Closing the generator closes the connection."""
        # wait_end_of_query: the server buffers the result until the
        # query COMPLETES, so a mid-query failure (memory limit, killed
        # query) is a non-200 with the exception text — without it the
        # 200 status is already sent when streaming starts and the
        # exception text is appended to the TSV body, where it would
        # parse as row data (r19 review: silent truncation + a bogus
        # row). Per-partition range slices bound what the server
        # buffers, so exactness wins over first-byte latency.
        q = urllib.parse.urlencode(
            {"default_format": "TSVWithNamesAndTypes", "wait_end_of_query": "1"}
        )
        # cfg.url may legitimately carry a query string (e.g.
        # ?database=analytics — there is no separate database option);
        # gluing "/?" after it would mangle both parameter sets
        u = urllib.parse.urlsplit(self.base)
        if u.query:
            target = f"{u.path or '/'}?{u.query}&{q}"
        else:
            target = f"{u.path.rstrip('/')}/?{q}"
        if u.scheme == "https":
            conn = http.client.HTTPSConnection(u.hostname, u.port, timeout=self.timeout,
                                               context=self._ctx)
        else:
            conn = http.client.HTTPConnection(u.hostname, u.port, timeout=self.timeout)
        headers = {
            "X-ClickHouse-User": self.user,
            "X-ClickHouse-Key": self.password,
            "Content-Type": "text/plain; charset=utf-8",
        }
        try:
            try:
                conn.connect()
                # a deadline unblocks the wait for the (buffered) answer
                pushsql.on_cancel(lambda: conn.sock.shutdown(socket.SHUT_RDWR))
                conn.request("POST", target, body=sql.encode(), headers=headers)
                resp = conn.getresponse()
            except Exception as e:  # noqa: BLE001 - transport error with context
                raise SourceError(f"clickhouse unreachable: {e}") from e
            if resp.status != 200:
                detail = resp.read().decode(errors="replace")[:300]
                raise SourceError(f"clickhouse query failed: {detail}")
            yield from self._rows(resp, header_out)
        finally:
            conn.close()

    def _rows(self, resp, header_out: list | None):
        names_line = self._bounded_line(resp)
        types_line = self._bounded_line(resp)
        if not types_line:
            raise SourceError("clickhouse response missing names/types header")
        if header_out is not None:
            header_out.append(
                [_utf8(f) for f in names_line.rstrip(b"\n").split(b"\t")]
            )
            header_out.append(
                [_utf8(f) for f in types_line.rstrip(b"\n").split(b"\t")]
            )
        # every line is a row — a single-column row whose value is
        # the empty string serializes as a bare newline, so lines
        # must NOT be skipped when empty (iteration ends at EOF;
        # there is no trailing blank line to filter)
        while True:
            ln = self._bounded_line(resp)
            if not ln:
                break
            ln = ln.rstrip(b"\n")
            yield [_unescape_field(f) for f in ln.split(b"\t")]

    def close(self) -> None:
        """Each query opens and closes its own connection."""

    def query(self, sql: str) -> tuple[list[str], list[str], list[list[str | None]]]:
        """-> (names, ch_types, rows-as-text). Raises SourceError with
        the server's message on any non-200."""
        header: list = []
        rows = list(self.query_iter(sql, header_out=header))
        if len(header) < 2:
            raise SourceError("clickhouse response missing names/types header")
        return header[0], header[1], rows


# ------------------------------------------------------------- DataSource


class ClickHouseDataSource(pushsql.SqlSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _connect(self) -> ClickHouseHttp:
        o = self.options
        return ClickHouseHttp(
            url=o.get("url", "http://127.0.0.1:8123"),
            user=o.get("user", "default"),
            password=o.get("password", ""),
            timeout=float(o.get("timeout", "60")),
            ssl_ca=o.get("ssl_ca"),
            insecure=str(o.get("insecure", "")).lower() == "true",
        )

    def _probe(self, client, sql):
        names, types, _rows = client.query(sql)
        return StructType([T.StructField(n, _ch_to_spark(t), True) for n, t in zip(names, types)])

    def _bounds(self, client, sql):
        # decode min/max by the column's DECLARED type (r19 review: a
        # bare int() crashed Date/Float/Decimal partition columns with a
        # raw ValueError)
        _n, ch_types, rows = client.query(sql)
        dtype = _ch_to_spark(ch_types[0]) if ch_types else T.StringType()
        try:
            lo, hi = (_decode(v, dtype) for v in rows[0]) if rows else (None, None)
        except (ValueError, ArithmeticError) as e:
            raise SourceError(
                f"cannot decode min/max as {dtype.simpleString()}: {e} ({sql})") from None
        # split points need not be exact — float bounds render as
        # portable literals, and the unbounded outer ranges keep
        # coverage regardless
        return tuple(float(v) if isinstance(v, decimal.Decimal) else v for v in (lo, hi))

    def _rows(self, client, sql, schema):
        # streamed + columnar: text cells parse inside Arrow's cast
        # kernels per chunk (see sources/textbatch.py); Spark ingests
        # the RecordBatches without per-row pickling. ClickHouse bool
        # text is 'true'/'false'.
        from strake_spark.sources.textbatch import text_batches

        return text_batches(schema, client.query_iter(sql))


@source_type("clickhouse_http", "clickhouse")
def register_clickhouse_source(spark: SparkSession, cfg: SourceConfig) -> list[str]:
    """clickhouse routed by URL: http(s):// uses this jar-free HTTP
    interface; jdbc:/anything-else falls through to the JDBC path."""
    if not cfg.url:
        raise SourceError(f"clickhouse source {cfg.name!r} needs url")
    if not cfg.url.startswith(("http://", "https://")):
        from strake_spark.sources.jdbc import register_jdbc_source

        return register_jdbc_source(spark, cfg)
    if not cfg.tables:
        raise SourceError(f"clickhouse source {cfg.name!r} declares no tables")
    base = {
        "url": cfg.url,
        "user": cfg.username or "default",
        "password": cfg.password or "",
    }
    for opt in ("ssl_ca", "insecure"):
        if cfg.options.get(opt):
            base[opt] = str(cfg.options[opt])
    # a declared partition column defaults to the source's concurrency
    # budget (same shape as the reference pool's max_concurrent_queries)
    return pushsql.register_tables(
        spark, cfg, ClickHouseDataSource, "clickhouse", base,
        [t.name for t in cfg.tables], default_partitions=cfg.max_concurrent_queries,
    )
