"""MySQL source over the raw client/server protocol — no JDBC jar.

Reference: crates/connectors/src/sources/sql/mysql.rs (native connector
pool). Companion to sources/pgwire.py: implements the classic MySQL
protocol (https://dev.mysql.com/doc/dev/mysql-server/latest/
PAGE_PROTOCOL.html) with stdlib sockets — handshake v10,
``mysql_native_password`` auth (SHA1 scramble), COM_QUERY with the text
resultset. CLIENT_DEPRECATE_EOF is deliberately NOT negotiated so the
resultset framing is the classic columns/EOF/rows/EOF shape — one
well-understood code path.

Scans run through the shared reader (``pushsql.SqlSource``) with
backtick identifiers: each partition opens its OWN socket executor-side
with numeric range predicates; ``push_query`` wires federation pushdown
with the mysql dialect (whose identifier quoting and collation hazards
the dialect layer + partial-pushdown whitelist already handle: backtick
respelling outside literals, negated-string-predicate veto).

caching_sha2_password (MySQL 8 default) needs an RSA exchange over the
wire or TLS — deployments using it should take the JDBC path; servers
configured with mysql_native_password (still ubiquitous for service
accounts) work here.
"""

from __future__ import annotations

import hashlib
import socket
import struct
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.types import StructType

from strake_spark.config import SourceConfig
from strake_spark.errors import SourceError
from strake_spark.sources import pushsql
from strake_spark.sources.registry import source_type

FORMAT_NAME = "strake_mysql"

# capability flags
_CLIENT_LONG_PASSWORD = 0x1
_CLIENT_PROTOCOL_41 = 0x200
_CLIENT_SSL = 0x800
_CLIENT_SECURE_CONNECTION = 0x8000
_CLIENT_PLUGIN_AUTH = 0x80000
_CLIENT_CONNECT_WITH_DB = 0x8

# column type bytes -> Spark types (NEWDECIMAL 0xF6 is handled
# separately: its column-definition length/decimals bytes carry the
# exact precision/scale)
_TYPE_NEWDECIMAL = 0xF6
_UNSIGNED_FLAG = 0x20

_MYSQL_TYPE_TO_SPARK: dict[int, T.DataType] = {
    0x01: T.IntegerType(),   # TINY
    0x02: T.IntegerType(),   # SHORT
    0x03: T.IntegerType(),   # LONG
    0x08: T.LongType(),      # LONGLONG
    0x04: T.DoubleType(),    # FLOAT
    0x05: T.DoubleType(),    # DOUBLE
    0x0A: T.DateType(),      # DATE
    0x0C: T.TimestampNTZType(),  # DATETIME
    0x07: T.TimestampNTZType(),  # TIMESTAMP
    0x0F: T.StringType(),    # VARCHAR
    0xFD: T.StringType(),    # VAR_STRING
    0xFE: T.StringType(),    # STRING
}


def _native_password_token(password: str, scramble: bytes) -> bytes:
    if not password:
        return b""
    h1 = hashlib.sha1(password.encode()).digest()
    h2 = hashlib.sha1(h1).digest()
    h3 = hashlib.sha1(scramble + h2).digest()
    return bytes(a ^ b for a, b in zip(h1, h3))


def _read_lenenc_int(buf: bytes, pos: int) -> tuple[int | None, int]:
    # bounds-checked (r18): packet bytes come from an untrusted server;
    # a truncated packet must raise a clear SourceError, not a raw
    # IndexError/struct.error — and int.from_bytes over a SHORT slice
    # would silently return a wrong value
    if pos >= len(buf):
        raise SourceError("mysql packet: truncated length-encoded integer")
    first = buf[pos]
    if first < 0xFB:
        return first, pos + 1
    if first == 0xFB:
        return None, pos + 1  # NULL marker in row data
    if first == 0xFF:
        # 0xff is the ERR-packet marker, never a length prefix (r19
        # review: treating it as an 8-byte integer misparsed corrupt
        # packets instead of rejecting them)
        raise SourceError("mysql packet: 0xff is not a length-encoded integer")
    width = {0xFC: 2, 0xFD: 3, 0xFE: 8}[first]
    end = pos + 1 + width
    if end > len(buf):
        raise SourceError("mysql packet: truncated length-encoded integer")
    return int.from_bytes(buf[pos + 1:end], "little"), end


def _read_lenenc_str(buf: bytes, pos: int) -> tuple[bytes | None, int]:
    n, pos = _read_lenenc_int(buf, pos)
    if n is None:
        return None, pos
    if pos + n > len(buf):
        # a declared length past the packet end previously returned a
        # silently SHORTENED cell value
        raise SourceError("mysql packet: string length exceeds packet")
    return buf[pos:pos + n], pos + n


@dataclass
class _Field:
    name: str
    type_byte: int
    column_length: int = 0
    decimals: int = 0
    unsigned: bool = False

    def spark_type(self) -> T.DataType:
        """NEWDECIMAL maps to the exact DecimalType(p, s): the wire's
        column_length counts display chars (digits + sign + point), so
        p = length - (1 if s > 0) - (1 if signed) — the same decode the
        reference's Decimal128 builders do (crates/connectors/src/
        sources/sql/mysql.rs). MySQL allows p up to 65; above Spark's
        38-digit ceiling falls back to Double."""
        if self.type_byte == _TYPE_NEWDECIMAL:
            s = self.decimals
            p = self.column_length - (1 if s > 0 else 0) - (0 if self.unsigned else 1)
            if 1 <= p <= 38 and 0 <= s <= p:
                return T.DecimalType(p, s)
            return T.DoubleType()
        return _MYSQL_TYPE_TO_SPARK.get(self.type_byte, T.StringType())


class MySqlWireConnection:
    """Classic-protocol client: handshake, native-password auth,
    COM_QUERY text resultsets."""

    def __init__(self, host: str, port: int = 3306, user: str = "root",
                 password: str = "", database: str = "", timeout: float = 30.0,
                 sslmode: str = "disable", ssl_ca: str | None = None):
        """``sslmode``: disable | require (encrypt, no verification) |
        verify-full (CA + hostname; ``ssl_ca`` or system CAs) — same
        semantics as the pgwire client."""
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._buf = b""
        # a deadline unblocks a pending recv; TLS may replace _sock later
        pushsql.on_cancel(lambda: self._sock.shutdown(socket.SHUT_RDWR))
        self._seq = 0
        if sslmode not in ("disable", "require", "verify-full"):
            raise SourceError(f"unsupported sslmode {sslmode!r}")
        self._sslmode = sslmode
        self._ssl_ca = ssl_ca
        self._host = host
        self._handshake(user, password, database)

    # --------------------------------------------------------- transport
    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            try:
                chunk = self._sock.recv(65536)
            except OSError as e:  # timeout / reset -> one error type for callers
                raise SourceError(f"mysql connection failed mid-packet: {e}") from e
            if not chunk:
                raise SourceError("mysql connection closed mid-packet")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    # Continuation-payload sanity bound (r19 opt round, matching
    # pgwire._MAX_FRAME posture): each packet is capped at 16MB by the
    # 3-byte length, but the splitting loop below concatenates
    # continuations — a hostile/looping server streaming endless
    # 0xffffff packets would otherwise grow `payload` until the
    # process OOMs.
    _MAX_PAYLOAD = 512 * 1024 * 1024

    def _read_packet(self) -> bytes:
        head = self._recv_exact(4)
        length = int.from_bytes(head[:3], "little")
        self._seq = (head[3] + 1) & 0xFF
        payload = self._recv_exact(length)
        # protocol packet splitting: a payload of exactly 0xffffff bytes
        # continues in the next packet(s) until one arrives under the
        # limit (a 16MB+ row would otherwise be mis-framed)
        while length == 0xFFFFFF:
            head = self._recv_exact(4)
            length = int.from_bytes(head[:3], "little")
            self._seq = (head[3] + 1) & 0xFF
            payload += self._recv_exact(length)
            if len(payload) > self._MAX_PAYLOAD:
                raise SourceError(
                    f"mysql packet exceeds {self._MAX_PAYLOAD} bytes "
                    "(runaway continuation stream?)"
                )
        return payload

    def _send_packet(self, payload: bytes) -> None:
        head = len(payload).to_bytes(3, "little") + bytes([self._seq])
        self._seq = (self._seq + 1) & 0xFF
        self._sock.sendall(head + payload)

    @staticmethod
    def _err_text(pkt: bytes) -> str:
        # 0xff code(2) '#'sqlstate(6) message
        code = struct.unpack("<H", pkt[1:3])[0]
        msg = pkt[9:] if len(pkt) > 9 and pkt[3:4] == b"#" else pkt[3:]
        return f"{msg.decode(errors='replace')} (errno {code})"

    # --------------------------------------------------------- handshake
    def _handshake(self, user: str, password: str, database: str) -> None:
        pkt = self._read_packet()
        if not pkt:
            raise SourceError("mysql greeting: empty packet")
        if pkt[:1] == b"\xff":
            raise SourceError(f"mysql refused connection: {self._err_text(pkt)}")
        if pkt[0] != 10:
            raise SourceError(f"unsupported mysql protocol version {pkt[0]}")
        try:
            pos = 1
            end = pkt.index(b"\0", pos)  # server version
            pos = end + 1 + 4  # thread id
            auth1 = pkt[pos:pos + 8]
            pos += 8 + 1  # filler
            pos += 2 + 1 + 2 + 2  # cap_low, charset, status, cap_high
            auth_len = pkt[pos]
            pos += 1 + 10  # reserved
            auth2 = pkt[pos:pos + max(13, auth_len - 8)]
            pos += len(auth2)
            plugin = pkt[pos:].split(b"\0")[0].decode() if pos < len(pkt) else ""
        except (ValueError, IndexError):
            # greeting bytes come from whatever answered the port — a
            # proxy or non-MySQL service sending a short packet that
            # happens to start with byte 10 must be a clear error, not
            # a raw ValueError/IndexError (r19 review; same posture as
            # _read_lenenc_int's r18 hardening)
            raise SourceError("mysql greeting truncated or corrupt") from None
        if plugin and plugin != "mysql_native_password":
            raise SourceError(
                f"unsupported mysql auth plugin {plugin!r} "
                "(caching_sha2 needs the JDBC path)"
            )
        scramble = (auth1 + auth2).rstrip(b"\0")[:20]
        token = _native_password_token(password, scramble)
        caps = (_CLIENT_LONG_PASSWORD | _CLIENT_PROTOCOL_41
                | _CLIENT_SECURE_CONNECTION | _CLIENT_PLUGIN_AUTH)
        if database:
            caps |= _CLIENT_CONNECT_WITH_DB
        if self._sslmode != "disable":
            import ssl

            caps |= _CLIENT_SSL
            # SSLRequest = the fixed 32-byte head of HandshakeResponse41;
            # after it the whole stream (including the real response)
            # switches to TLS
            self._send_packet(struct.pack("<IIB23x", caps, 1 << 24, 33))
            if self._sslmode == "verify-full":
                ctx = ssl.create_default_context(cafile=self._ssl_ca)
            else:
                ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
                ctx.check_hostname = False
                ctx.verify_mode = ssl.CERT_NONE
            self._sock = ctx.wrap_socket(
                self._sock, server_hostname=self._host
            )
            self._buf = b""
        resp = struct.pack("<IIB23x", caps, 1 << 24, 33)  # utf8 charset
        resp += user.encode() + b"\0"
        resp += bytes([len(token)]) + token
        if database:
            resp += database.encode() + b"\0"
        resp += b"mysql_native_password\0"
        self._send_packet(resp)
        pkt = self._read_packet()
        if pkt[:1] == b"\xff":
            raise SourceError(f"mysql auth failed: {self._err_text(pkt)}")
        if pkt[:1] == b"\xfe":
            raise SourceError("mysql requested auth-switch (unsupported plugin)")
        # else OK packet: connected

    # ------------------------------------------------------------- query
    def query_iter(self, sql: str, fields_out: list | None = None, *,
                   raw: bool = False):
        """Stream rows as row packets arrive (see pgwire's query_iter —
        same contract: consume fully or close). ``raw=True`` yields
        lists of undecoded ``bytes | None`` cells for the Arrow scan
        path (sources/textbatch.py)."""
        self._seq = 0
        self._send_packet(b"\x03" + sql.encode())
        pkt = self._read_packet()
        if pkt[:1] == b"\xff":
            raise SourceError(f"mysql query failed: {self._err_text(pkt)}")
        if pkt[:1] == b"\x00":
            return  # OK without resultset
        ncols, _ = _read_lenenc_int(pkt, 0)
        fields: list[_Field] = []
        for _ in range(ncols):
            cd = self._read_packet()
            pos = 0
            for _i in range(4):  # catalog, schema, table, org_table
                _s, pos = _read_lenenc_str(cd, pos)
            name, pos = _read_lenenc_str(cd, pos)
            _org, pos = _read_lenenc_str(cd, pos)
            pos += 1 + 2  # fixed-len marker (0x0c), charset
            (col_len,) = struct.unpack("<I", cd[pos:pos + 4])
            pos += 4
            type_byte = cd[pos]
            pos += 1
            (flags,) = struct.unpack("<H", cd[pos:pos + 2])
            pos += 2
            decimals = cd[pos]
            fields.append(_Field(
                name.decode(), type_byte, col_len, decimals,
                bool(flags & _UNSIGNED_FLAG),
            ))
        if fields_out is not None:
            fields_out.extend(fields)
        pkt = self._read_packet()  # EOF after column definitions
        if pkt[:1] != b"\xfe":
            raise SourceError("mysql protocol error: expected EOF after columns")
        while True:
            pkt = self._read_packet()
            if pkt[:1] == b"\xfe" and len(pkt) < 9:
                break
            if pkt[:1] == b"\xff":
                raise SourceError(f"mysql query failed: {self._err_text(pkt)}")
            pos = 0
            vals = []
            for f in fields:
                cell, pos = _read_lenenc_str(pkt, pos)
                if raw:
                    vals.append(cell)
                else:
                    vals.append(None if cell is None else _decode(f, cell))
            yield vals if raw else tuple(vals)

    def query(self, sql: str) -> tuple[list[_Field], list[tuple]]:
        fields: list[_Field] = []
        rows = list(self.query_iter(sql, fields_out=fields))
        return fields, rows

    def close(self) -> None:
        try:
            self._seq = 0
            self._send_packet(b"\x01")  # COM_QUIT
        except Exception:  # noqa: BLE001 - best-effort goodbye
            pass
        self._sock.close()


def _decode(field: _Field, raw: bytes):
    s = raw.decode()
    dt = field.spark_type()
    if isinstance(dt, (T.IntegerType, T.LongType)):
        return int(s)
    if isinstance(dt, T.DecimalType):
        import decimal

        return decimal.Decimal(s)
    if isinstance(dt, T.DoubleType):
        return float(s)
    if isinstance(dt, T.DateType):
        import datetime

        return datetime.date.fromisoformat(s)
    if isinstance(dt, T.TimestampNTZType):
        # DATETIME(n) renders exactly n fraction digits; Python 3.10's
        # fromisoformat only accepts 3 or 6 (r19 review)
        from strake_spark.sources.wiretext import parse_wire_timestamp

        return parse_wire_timestamp(s)
    return s


# ------------------------------------------------------------- DataSource


def _quote_mysql(name: str) -> str:
    # reuse the safety screen, then respell to backticks (mysql rejects
    # double-quoted identifiers outside ANSI_QUOTES mode)
    return "`" + pushsql.quote_ident(name)[1:-1] + "`"


class MySqlDataSource(pushsql.SqlSource):
    quote = staticmethod(_quote_mysql)

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _connect(self) -> MySqlWireConnection:
        o = self.options
        return MySqlWireConnection(
            host=o.get("host", "127.0.0.1"),
            port=int(o.get("port", "3306")),
            user=o.get("user", "root"),
            password=o.get("password", ""),
            database=o.get("database", ""),
            timeout=float(o.get("timeout", "30")),
            sslmode=o.get("sslmode", "disable"),
            ssl_ca=o.get("ssl_ca"),
        )

    def _probe(self, con, sql):
        fields, _rows = con.query(sql)
        return StructType([T.StructField(f.name, f.spark_type(), True) for f in fields])

    def _bounds(self, con, sql):
        _fields, rows = con.query(sql)
        return rows[0] if rows else (None, None)

    def _rows(self, con, sql, schema):
        # streamed + columnar: raw text cells parse inside Arrow's cast
        # kernels per chunk (see sources/textbatch.py); Spark ingests
        # the RecordBatches without per-row pickling
        from strake_spark.sources.textbatch import text_batches

        return text_batches(schema, con.query_iter(sql, raw=True))


@source_type("mysql_wire")
def register_mysql_wire_source(spark: SparkSession, cfg: SourceConfig) -> list[str]:
    """mysql:// via the classic protocol. URL: mysql://host:3306/db."""
    from urllib.parse import urlparse

    if not cfg.url:
        raise SourceError(f"mysql_wire source {cfg.name!r} needs url")
    u = urlparse(cfg.url)
    base = {
        "host": u.hostname or "127.0.0.1",
        "port": str(u.port or 3306),
        "user": cfg.username or (u.username or "root"),
        "password": cfg.password or (u.password or ""),
        "database": (u.path or "/").lstrip("/"),
        "sslmode": str(cfg.options.get("sslmode", "disable")),
    }
    if cfg.options.get("ssl_ca"):
        base["ssl_ca"] = str(cfg.options["ssl_ca"])
    if not cfg.tables:
        raise SourceError(f"mysql_wire source {cfg.name!r} declares no tables")
    # a declared partition column defaults to the source's concurrency
    # budget (same shape as the reference pool's max_concurrent_queries)
    return pushsql.register_tables(
        spark, cfg, MySqlDataSource, "mysql", base,
        [t.name for t in cfg.tables], default_partitions=cfg.max_concurrent_queries,
    )
