"""In-process, protocol-faithful SQL wire servers (Postgres v3,
MySQL classic, ClickHouse HTTP) shared by the test suites and the
driver-green ``source_*_wire_roundtrip`` inventory entries.

Moved here from the test modules in r19 (one source of truth): each
fake lives at the SOCKET/HTTP boundary and is backed by a DuckDB file,
so the jar-free clients under test are exercised byte-for-byte as a
real server would — startup/handshake, auth (SCRAM-SHA-256 /
mysql_native_password / ClickHouse key headers), text resultsets, and
error surfaces. Nothing here talks to any real service; every endpoint
binds 127.0.0.1:0.
"""

from __future__ import annotations

import hashlib
import socketserver
import struct
from http.server import BaseHTTPRequestHandler, HTTPServer

import duckdb

from strake_spark.sources.mysqlwire import _native_password_token

_DUCK_TO_OID = {
    "BOOLEAN": 16, "BIGINT": 20, "SMALLINT": 21, "INTEGER": 23,
    "FLOAT": 700, "DOUBLE": 701, "DECIMAL": 1700, "HUGEINT": 20,
    "VARCHAR": 1043, "DATE": 1082, "TIMESTAMP": 1114,
    "TIMESTAMP WITH TIME ZONE": 1184,
}


def _encode_text(v) -> bytes:
    import datetime

    if isinstance(v, bool):
        return b"t" if v else b"f"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ").encode()
    return str(v).encode()


class _PgHandler(socketserver.BaseRequestHandler):
    def setup(self):
        self._buf = b""

    def _recv_exact(self, n):
        # read AT MOST the bytes still needed (r19 opt round): an
        # over-reading recv(65536) could swallow the start of the
        # client's TLS ClientHello into the plaintext buffer when it
        # coalesces with the pre-TLS packet in one segment — the
        # subsequent wrap_socket then deadlocks until the client
        # timeout (the observed TestTls flake under load)
        while len(self._buf) < n:
            chunk = self.request.recv(n - len(self._buf))
            if not chunk:
                raise ConnectionError("client gone")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _send(self, mtype: bytes, payload: bytes):
        self.request.sendall(mtype + struct.pack(">i", len(payload) + 4) + payload)

    def _ready(self):
        self._send(b"Z", b"I")

    def _error(self, msg: str):
        fields = b"SERROR\0C42000\0M" + msg.encode() + b"\0\0"
        self._send(b"E", fields)

    def handle(self):
        srv = self.server
        if getattr(srv, "ssl_context", None) is not None:
            # SSLRequest: 8-byte packet with magic 80877103 -> 'S' -> TLS
            (ln,) = struct.unpack(">i", self._recv_exact(4))
            (magic,) = struct.unpack(">i", self._recv_exact(4))
            assert ln == 8 and magic == 80877103, "expected SSLRequest first"
            self.request.sendall(b"S")
            self.request = srv.ssl_context.wrap_socket(
                self.request, server_side=True
            )
            self._buf = b""
        # ---- startup
        (length,) = struct.unpack(">i", self._recv_exact(4))
        payload = self._recv_exact(length - 4)
        (proto,) = struct.unpack(">i", payload[:4])
        if proto != 196608:
            self._error("unsupported protocol")
            return
        kv = payload[4:].split(b"\0")
        params = dict(zip(kv[::2], kv[1::2]))
        user = params.get(b"user", b"").decode()
        # ---- auth
        if srv.auth_mode == "scram":
            import base64
            import hmac as _hmac
            import os

            self._send(b"R", struct.pack(">i", 10) + b"SCRAM-SHA-256\0\0")
            mtype = self._recv_exact(1)
            (ln,) = struct.unpack(">i", self._recv_exact(4))
            body = self._recv_exact(ln - 4)
            mech, rest = body.split(b"\0", 1)
            (flen,) = struct.unpack(">i", rest[:4])
            client_first = rest[4:4 + flen].decode()
            if mtype != b"p" or mech != b"SCRAM-SHA-256":
                self._error("bad SASL start")
                return
            bare = client_first.split(",", 2)[2]
            cnonce = dict(kv.split("=", 1) for kv in bare.split(","))["r"]
            snonce = cnonce + base64.b64encode(os.urandom(9)).decode()
            salt = os.urandom(12)
            iters = 4096
            server_first = (
                f"r={snonce},s={base64.b64encode(salt).decode()},i={iters}"
            )
            self._send(b"R", struct.pack(">i", 11) + server_first.encode())
            mtype = self._recv_exact(1)
            (ln,) = struct.unpack(">i", self._recv_exact(4))
            client_final = self._recv_exact(ln - 4).decode()
            attrs = dict(kv.split("=", 1) for kv in client_final.split(","))
            salted = hashlib.pbkdf2_hmac(
                "sha256", srv.users.get(user, "").encode(), salt, iters
            )
            client_key = _hmac.new(salted, b"Client Key", hashlib.sha256).digest()
            stored_key = hashlib.sha256(client_key).digest()
            without_proof = client_final.rsplit(",p=", 1)[0]
            auth_message = ",".join([bare, server_first, without_proof]).encode()
            client_sig = _hmac.new(stored_key, auth_message, hashlib.sha256).digest()
            expect = bytes(a ^ b for a, b in zip(client_key, client_sig))
            if (mtype != b"p" or attrs.get("r") != snonce
                    or base64.b64decode(attrs.get("p", "")) != expect):
                self._error("password authentication failed")
                return
            server_key = _hmac.new(salted, b"Server Key", hashlib.sha256).digest()
            server_sig = _hmac.new(server_key, auth_message, hashlib.sha256).digest()
            self._send(
                b"R",
                struct.pack(">i", 12)
                + b"v=" + base64.b64encode(server_sig),
            )
        elif srv.auth_mode == "md5":
            salt = b"ab12"
            self._send(b"R", struct.pack(">i", 5) + salt)
            mtype = self._recv_exact(1)
            (ln,) = struct.unpack(">i", self._recv_exact(4))
            pw = self._recv_exact(ln - 4).rstrip(b"\0").decode()
            inner = hashlib.md5(
                (srv.users.get(user, "") + user).encode()
            ).hexdigest()
            expect = "md5" + hashlib.md5(inner.encode() + salt).hexdigest()
            if mtype != b"p" or pw != expect:
                self._error("password authentication failed")
                return
        else:  # cleartext
            self._send(b"R", struct.pack(">i", 3))
            mtype = self._recv_exact(1)
            (ln,) = struct.unpack(">i", self._recv_exact(4))
            pw = self._recv_exact(ln - 4).rstrip(b"\0").decode()
            if mtype != b"p" or pw != srv.users.get(user):
                self._error("password authentication failed")
                return
        self._send(b"R", struct.pack(">i", 0))  # AuthenticationOk
        self._send(b"S", b"server_version\0testpg\0")
        self._ready()
        # ---- query loop
        con = duckdb.connect(srv.duck_path, read_only=True)
        try:
            while True:
                mtype = self._recv_exact(1)
                (ln,) = struct.unpack(">i", self._recv_exact(4))
                body = self._recv_exact(ln - 4)
                if mtype == b"X":
                    return
                if mtype != b"Q":
                    self._error(f"unsupported message {mtype!r}")
                    self._ready()
                    continue
                sql = body.rstrip(b"\0").decode()
                srv.queries.append(sql)
                if srv.stall is not None:
                    srv.stall(sql)
                try:
                    rel = con.sql(sql)
                    names = rel.columns
                    types = [str(t).upper() for t in rel.types]
                    rows = rel.fetchall()
                except Exception as e:  # noqa: BLE001 - surfaced as ErrorResponse
                    self._error(str(e)[:300])
                    self._ready()
                    continue
                # RowDescription; DECIMAL(p,s) carries the real
                # atttypmod = ((p << 16) | s) + 4 like live postgres
                def typmod(t: str) -> int:
                    if t.startswith("DECIMAL("):
                        p, s = t[8:-1].split(",")
                        return ((int(p) << 16) | int(s)) + 4
                    return -1

                fields = b"".join(
                    name.encode() + b"\0"
                    + struct.pack(">ihihih", 0, 0,
                                  _DUCK_TO_OID.get(t.split("(")[0], 1043),
                                  -1, typmod(t), 0)
                    for name, t in zip(names, types)
                )
                # render the whole resultset once, send in large chunks
                # — a per-row syscall caps throughput well below what
                # the client under test can consume
                tmsg = struct.pack(">h", len(names)) + fields
                buf: list[bytes] = [
                    b"T" + struct.pack(">i", len(tmsg) + 4) + tmsg
                ]
                for row in rows:
                    parts = [struct.pack(">h", len(row))]
                    for v in row:
                        if v is None:
                            parts.append(struct.pack(">i", -1))
                        else:
                            enc = _encode_text(v)
                            parts.append(struct.pack(">i", len(enc)) + enc)
                    payload = b"".join(parts)
                    buf.append(b"D" + struct.pack(">i", len(payload) + 4) + payload)
                cmsg = f"SELECT {len(rows)}\0".encode()
                buf.append(b"C" + struct.pack(">i", len(cmsg) + 4) + cmsg)
                self.request.sendall(b"".join(buf))
                self._ready()
        finally:
            con.close()


class FakePg(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, duck_path, users, auth_mode="md5", ssl_context=None):
        super().__init__(("127.0.0.1", 0), _PgHandler)
        self.duck_path = duck_path
        self.users = users
        self.auth_mode = auth_mode
        self.ssl_context = ssl_context
        self.queries: list[str] = []
        # called with each statement before it runs (a test's stalling server)
        self.stall = None


_DUCK_TO_MYSQL_TYPE = {
    "BOOLEAN": 0x01, "TINYINT": 0x01, "SMALLINT": 0x02, "INTEGER": 0x03,
    "BIGINT": 0x08, "HUGEINT": 0x08, "FLOAT": 0x04, "DOUBLE": 0x05,
    "DECIMAL": 0xF6, "VARCHAR": 0xFD, "DATE": 0x0A, "TIMESTAMP": 0x0C,
}

_SCRAMBLE = b"abcdefgh" + b"ijklmnopqrst"  # 20 bytes


def _lenenc(n: int) -> bytes:
    if n < 0xFB:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 1 << 24:
        return b"\xfd" + n.to_bytes(3, "little")
    return b"\xfe" + struct.pack("<Q", n)


def _lenenc_str(b: bytes) -> bytes:
    return _lenenc(len(b)) + b


class _MyHandler(socketserver.BaseRequestHandler):
    def setup(self):
        self._buf = b""
        self._seq = 0

    def _recv_exact(self, n):
        # read AT MOST the bytes still needed (r19 opt round): an
        # over-reading recv(65536) could swallow the start of the
        # client's TLS ClientHello into the plaintext buffer when it
        # coalesces with the pre-TLS packet in one segment — the
        # subsequent wrap_socket then deadlocks until the client
        # timeout (the observed TestTls flake under load)
        while len(self._buf) < n:
            chunk = self.request.recv(n - len(self._buf))
            if not chunk:
                raise ConnectionError("client gone")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_packet(self):
        head = self._recv_exact(4)
        length = int.from_bytes(head[:3], "little")
        self._seq = (head[3] + 1) & 0xFF
        return self._recv_exact(length)

    def _send_packet(self, payload: bytes):
        # protocol packet splitting, like a real server: payloads of
        # 0xffffff+ bytes ship as max-size packets plus a terminator
        # under the limit (possibly empty) — this is what exercises the
        # client's continuation reassembly end-to-end
        while True:
            part, payload = payload[:0xFFFFFF], payload[0xFFFFFF:]
            head = len(part).to_bytes(3, "little") + bytes([self._seq])
            self._seq = (self._seq + 1) & 0xFF
            self.request.sendall(head + part)
            if len(part) < 0xFFFFFF:
                return

    def _err(self, code: int, msg: str):
        self._send_packet(
            b"\xff" + struct.pack("<H", code) + b"#42000" + msg.encode()
        )

    def _ok(self):
        self._send_packet(b"\x00\x00\x00\x02\x00\x00\x00")

    def _eof(self):
        self._send_packet(b"\xfe\x00\x00\x02\x00")

    def handle(self):
        srv = self.server
        # ---- handshake v10
        greeting = (
            b"\x0a" + b"8.0.fake\0" + struct.pack("<I", 1)
            + _SCRAMBLE[:8] + b"\0"
            + struct.pack("<H", 0xFFFF)  # cap low
            + bytes([33]) + struct.pack("<H", 2)  # charset, status
            + struct.pack("<H", 0x000F)  # cap high (incl PLUGIN_AUTH bit 0x8)
            + bytes([21]) + b"\0" * 10
            + _SCRAMBLE[8:] + b"\0"
            + b"mysql_native_password\0"
        )
        self._send_packet(greeting)
        resp = self._read_packet()
        if getattr(srv, "ssl_context", None) is not None and len(resp) == 32:
            # 32-byte SSLRequest head (CLIENT_SSL set) -> switch to TLS,
            # then the real HandshakeResponse41 arrives encrypted
            (caps,) = struct.unpack("<I", resp[:4])
            assert caps & 0x800, "expected CLIENT_SSL in SSLRequest"
            self.request = srv.ssl_context.wrap_socket(
                self.request, server_side=True
            )
            self._buf = b""
            resp = self._read_packet()
        # parse HandshakeResponse41: caps(4) maxpkt(4) charset(1) 23x user\0
        pos = 4 + 4 + 1 + 23
        end = resp.index(b"\0", pos)
        user = resp[pos:end].decode()
        pos = end + 1
        alen = resp[pos]
        token = resp[pos + 1:pos + 1 + alen]
        expect = _native_password_token(srv.users.get(user, ""), _SCRAMBLE)
        if user not in srv.users or token != expect:
            self._err(1045, f"Access denied for user '{user}'")
            return
        self._ok()
        # ---- command loop
        con = duckdb.connect(srv.duck_path, read_only=True)
        try:
            while True:
                self._seq = 1  # responses continue the command's sequence
                pkt = self._read_packet()
                if not pkt or pkt[:1] == b"\x01":  # COM_QUIT
                    return
                if pkt[:1] != b"\x03":
                    self._err(1047, "unsupported command")
                    continue
                sql = pkt[1:].decode()
                srv.queries.append(sql)
                if srv.stall is not None:
                    srv.stall(sql)
                try:
                    # the DuckDB backend doesn't parse MySQL backtick
                    # quoting; translate at the emulation boundary (no
                    # test statement carries backticks inside literals)
                    rel = con.sql(sql.replace("`", '"'))
                    names = rel.columns

                    def colmeta(t) -> tuple[int, int, int]:
                        u = str(t).upper()
                        tb = _DUCK_TO_MYSQL_TYPE.get(u.split("(")[0], 0xFD)
                        if u.startswith("DECIMAL("):
                            p, s = (int(x) for x in u[8:-1].split(","))
                            # display width: digits + point + sign
                            return tb, p + (1 if s > 0 else 0) + 1, s
                        return tb, 255, 0

                    types = [colmeta(t) for t in rel.types]
                    rows = rel.fetchall()
                except Exception as e:  # noqa: BLE001 - surfaced as ERR packet
                    self._err(1064, str(e)[:200])
                    continue
                self._send_packet(_lenenc(len(names)))
                for name, (tb, col_len, dec) in zip(names, types):
                    cd = (
                        _lenenc_str(b"def") + _lenenc_str(b"") + _lenenc_str(b"t")
                        + _lenenc_str(b"t") + _lenenc_str(name.encode())
                        + _lenenc_str(name.encode())
                        + b"\x0c" + struct.pack("<H", 33)
                        + struct.pack("<I", col_len) + bytes([tb])
                        + struct.pack("<H", 0) + bytes([dec]) + b"\x00\x00"
                    )
                    self._send_packet(cd)
                self._eof()
                import datetime

                for row in rows:
                    out = b""
                    for v in row:
                        if v is None:
                            out += b"\xfb"
                        else:
                            if isinstance(v, bool):
                                s = b"1" if v else b"0"
                            elif isinstance(v, datetime.datetime):
                                s = v.isoformat(sep=" ").encode()
                            else:
                                s = str(v).encode()
                            out += _lenenc_str(s)
                    self._send_packet(out)
                self._eof()
        finally:
            con.close()


class FakeMySql(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, duck_path, users, ssl_context=None):
        super().__init__(("127.0.0.1", 0), _MyHandler)
        self.duck_path = duck_path
        self.users = users
        self.ssl_context = ssl_context
        self.queries: list[str] = []
        self.stall = None  # as FakePg.stall


_DUCK_TO_CH = {
    "BOOLEAN": "Bool", "TINYINT": "Int8", "SMALLINT": "Int16",
    "INTEGER": "Int32", "BIGINT": "Int64", "HUGEINT": "Int128",
    "FLOAT": "Float32", "DOUBLE": "Float64", "VARCHAR": "String",
    "DATE": "Date", "TIMESTAMP": "DateTime64(6)",
}


def _escape(v) -> bytes:
    import datetime

    if isinstance(v, bool):
        return b"true" if v else b"false"
    if isinstance(v, datetime.datetime):
        s = v.isoformat(sep=" ")
    else:
        s = str(v)
    return (
        s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
        .encode()
    )


def make_fake_ch(duck_path: str, users: dict[str, str]):
    queries: list[str] = []

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            user = self.headers.get("X-ClickHouse-User", "default")
            key = self.headers.get("X-ClickHouse-Key", "")
            if users.get(user) != key:
                self.send_response(403)
                self.end_headers()
                self.wfile.write(b"Code: 516. Authentication failed")
                return
            sql = self.rfile.read(
                int(self.headers.get("Content-Length", 0))
            ).decode()
            queries.append(sql)
            if self.server.stall is not None:
                self.server.stall(sql)
            con = duckdb.connect(duck_path, read_only=True)
            try:
                rel = con.sql(sql)
                names = rel.columns

                def chtype(t) -> str:
                    u = str(t).upper()
                    if u.startswith("DECIMAL("):
                        # DECIMAL(38,6) -> Decimal(38, 6)
                        return "Decimal" + str(t)[len("DECIMAL"):]
                    return _DUCK_TO_CH.get(u.split("(")[0], "String")

                types = [chtype(t) for t in rel.types]
                rows = rel.fetchall()
            except Exception as e:  # noqa: BLE001 - surfaced as CH error body
                self.send_response(400)
                self.end_headers()
                self.wfile.write(f"Code: 62. DB::Exception: {e}".encode()[:300])
                return
            finally:
                con.close()
            body = b"\t".join(n.encode() for n in names) + b"\n"
            body += b"\t".join(t.encode() for t in types) + b"\n"
            for row in rows:
                body += b"\t".join(
                    b"\\N" if v is None else _escape(v) for v in row
                ) + b"\n"
            self.send_response(200)
            self.send_header("Content-Type", "text/tab-separated-values")
            self.end_headers()
            self.wfile.write(body)

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    srv.queries = queries  # type: ignore[attr-defined]
    srv.duck_path = duck_path  # type: ignore[attr-defined]
    srv.stall = None  # type: ignore[attr-defined]  # as FakePg.stall
    return srv



# ---------------------------------------------------------------- entry glue
# Per-sf_dir cached servers for the driver-green roundtrip entries,
# mirroring inventory._fakes: started once, kept alive for the process
# (Spark scans are lazy — the driver collects after the entry returns),
# shut down by an explicit atexit-registered close.

import os
import tempfile
import threading

WIRE_USER, WIRE_PASSWORD = "rtuser", "rt-wire-secret"

# RLock: the *_server_for constructors call duck_path_for /
# _nation_root_for while already holding the lock (r19 review: the
# duckdb entry used to call duck_path_for UNLOCKED, racing the locked
# wire-server callers on the shared pid-keyed tmp file)
_LOCK = threading.RLock()
_PG: dict[str, FakePg] = {}
_MY: dict[str, FakeMySql] = {}
_CH: dict[str, HTTPServer] = {}
_WIRE_SERVERS: list = []


def nation_rows(sf_dir: str) -> list[dict]:
    """This sf_dir's nation table as plain dicts — the single point of
    truth for every fixture/server that re-serves it (r19 review: the
    grpc server, xlsx workbook and avro builders each re-implemented
    the three-column zip; a schema change must land once, here)."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/nation.parquet")
    return [
        {"n_nationkey": int(k), "n_name": nm, "n_regionkey": int(rk)}
        for k, nm, rk in zip(
            t.column("n_nationkey").to_pylist(),
            t.column("n_name").to_pylist(),
            t.column("n_regionkey").to_pylist(),
        )
    ]


def duck_path_for(sf_dir: str) -> str:
    """Content-keyed DuckDB backing file holding this sf_dir's nation
    table; built atomically once, shared by the wire servers and the
    duckdb roundtrip entry (all builds serialize on _LOCK)."""
    import hashlib as _hashlib

    with _LOCK:
        return _duck_path_locked(sf_dir, _hashlib)


def _duck_path_locked(sf_dir: str, _hashlib) -> str:

    tag = _hashlib.md5(f"duckrt_v1:{sf_dir}".encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"strake_wire_rt_{tag}.duckdb")
    if os.path.exists(path):
        return path
    tmp = f"{path}.{os.getpid()}.tmp"
    con = duckdb.connect(tmp)
    try:
        con.execute(
            "CREATE TABLE nation AS SELECT * FROM read_parquet("
            f"'{sf_dir}/nation.parquet')"
        )
    finally:
        con.close()
    os.replace(tmp, path)  # atomic: concurrent callers never read a partial db
    return path


def _start(srv) -> None:
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    _WIRE_SERVERS.append(srv)


def pg_server_for(sf_dir: str) -> FakePg:
    """SCRAM-SHA-256-authenticated Postgres v3 fake over this sf_dir's
    nation table (the strongest auth path the client implements)."""
    with _LOCK:
        if sf_dir not in _PG:
            srv = FakePg(
                duck_path_for(sf_dir),
                users={WIRE_USER: WIRE_PASSWORD},
                auth_mode="scram",
            )
            _start(srv)
            _PG[sf_dir] = srv
        return _PG[sf_dir]


def my_server_for(sf_dir: str) -> FakeMySql:
    """mysql_native_password handshake-v10 fake over the same table."""
    with _LOCK:
        if sf_dir not in _MY:
            srv = FakeMySql(duck_path_for(sf_dir), users={WIRE_USER: WIRE_PASSWORD})
            _start(srv)
            _MY[sf_dir] = srv
        return _MY[sf_dir]


def ch_server_for(sf_dir: str) -> HTTPServer:
    """ClickHouse HTTP-interface fake (TSVWithNamesAndTypes, key-header
    auth) over the same table."""
    with _LOCK:
        if sf_dir not in _CH:
            srv = make_fake_ch(duck_path_for(sf_dir), {WIRE_USER: WIRE_PASSWORD})
            _start(srv)
            _CH[sf_dir] = srv
        return _CH[sf_dir]


FLIGHT_TOKEN = "rt-flight-token"
_FLIGHT: dict[str, object] = {}


def flight_server_for(sf_dir: str):
    """In-process Arrow Flight server over this sf_dir's nation table:
    bearer-token-VERIFYING middleware on every call, and the command
    descriptor ``nation:sharded`` returns one endpoint per region shard
    (5), so the DataSource's endpoints->partitions mapping is exercised
    under the driver harness."""
    import pyarrow.compute as pc
    import pyarrow.flight as fl
    import pyarrow.parquet as pq

    with _LOCK:
        if sf_dir not in _FLIGHT:
            table = pq.read_table(f"{sf_dir}/nation.parquet")

            class _Auth(fl.ServerMiddlewareFactory):
                def start_call(self, info, headers):
                    vals = (
                        headers.get("authorization")
                        or headers.get(b"authorization")
                        or []
                    )
                    tok = vals[0] if vals else ""
                    if isinstance(tok, bytes):
                        tok = tok.decode()
                    if tok != f"Bearer {FLIGHT_TOKEN}":
                        raise fl.FlightUnauthenticatedError("bad token")
                    return None

            class _Srv(fl.FlightServerBase):
                def __init__(self):
                    super().__init__(
                        "grpc://127.0.0.1:0", middleware={"auth": _Auth()}
                    )
                    self.table = table

                def _shards(self):
                    return {
                        f"region-{r}": self.table.filter(
                            pc.equal(self.table["n_regionkey"], r)
                        )
                        for r in range(5)
                    }

                def get_flight_info(self, context, descriptor):
                    if descriptor.command == b"nation:sharded":
                        endpoints = [
                            fl.FlightEndpoint(k.encode(), [])
                            for k in self._shards()
                        ]
                    else:
                        endpoints = [fl.FlightEndpoint(b"nation", [])]
                    return fl.FlightInfo(
                        self.table.schema, descriptor, endpoints, -1, -1
                    )

                def do_get(self, context, ticket):
                    t = ticket.ticket
                    if t == b"nation":
                        return fl.RecordBatchStream(self.table)
                    if t.startswith(b"region-"):
                        return fl.RecordBatchStream(self._shards()[t.decode()])
                    raise fl.FlightServerError(f"unknown ticket {t!r}")

            srv = _Srv()
            threading.Thread(target=srv.serve, daemon=True).start()
            _WIRE_SERVERS.append(srv)
            _FLIGHT[sf_dir] = srv
        return _FLIGHT[sf_dir]


def close_all() -> None:
    with _LOCK:
        for srv in _WIRE_SERVERS:
            for closer in ("shutdown", "server_close", "close"):
                try:
                    getattr(srv, closer)()
                except Exception:  # noqa: BLE001 — best-effort at exit; not
                    pass  # every server kind has every closer
        _WIRE_SERVERS.clear()
        _PG.clear()
        _MY.clear()
        _CH.clear()
        _FLIGHT.clear()
        _GRPC.clear()
        _SFTP.clear()
        _FTP.clear()


import atexit  # noqa: E402 — registered after the state it closes

atexit.register(close_all)


_GRPC: dict[str, object] = {}


def grpc_server_for(sf_dir: str):
    """In-process h2c gRPC server (inventory._h2_fake.H2GrpcTestServer)
    streaming this sf_dir's nation rows as protobuf messages on
    ``/strake.Nation/List`` — field 1 varint n_nationkey, field 2
    length-delimited n_name, field 3 varint n_regionkey."""
    from strake_spark.inventory._h2_fake import H2GrpcTestServer

    with _LOCK:
        if sf_dir not in _GRPC:
            def varint(n: int) -> bytes:
                out = bytearray()
                while True:
                    b = n & 0x7F
                    n >>= 7
                    out.append(b | (0x80 if n else 0))
                    if not n:
                        return bytes(out)

            msgs = []
            for row in nation_rows(sf_dir):
                name = row["n_name"].encode()
                msgs.append(
                    b"\x08" + varint(row["n_nationkey"])
                    + b"\x12" + varint(len(name)) + name
                    + b"\x18" + varint(row["n_regionkey"])
                )
            srv = H2GrpcTestServer({"/strake.Nation/List": lambda req: msgs})
            _WIRE_SERVERS.append(srv)
            _GRPC[sf_dir] = srv
        return _GRPC[sf_dir]


_SFTP: dict[str, object] = {}


def _nation_root_for(sf_dir: str) -> str:
    """Content-keyed served root: /data/nation.parquet copied from this
    sf_dir; built atomically once, shared by the sftp and ftp servers."""
    import hashlib as _hashlib
    import shutil

    tag = _hashlib.md5(f"sftp_rt_v1:{sf_dir}".encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"strake_rt_sftp_{tag}")
    if not os.path.isdir(os.path.join(root, "data")):
        stage = f"{root}.{os.getpid()}.tmp"
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(os.path.join(stage, "data"))
        shutil.copy(
            f"{sf_dir}/nation.parquet",
            os.path.join(stage, "data", "nation.parquet"),
        )
        try:
            os.rename(stage, root)
        except OSError:
            shutil.rmtree(stage, ignore_errors=True)
    return root


def sftp_server_for(sf_dir: str):
    """In-process SSH/SFTP server (inventory._ssh_fake) serving a
    content-keyed root holding this sf_dir's nation.parquet under
    /data/. Password auth; the caller pins the server's ed25519 key by
    fingerprint (the client refuses unpinned hosts by policy)."""
    from strake_spark.inventory._ssh_fake import SshSftpTestServer

    with _LOCK:
        if sf_dir not in _SFTP:
            srv = SshSftpTestServer(_nation_root_for(sf_dir),
                                    password=WIRE_PASSWORD, user=WIRE_USER)
            _WIRE_SERVERS.append(srv)
            _SFTP[sf_dir] = srv
        return _SFTP[sf_dir]


class FtpTestServer:
    """Minimal RFC 959 FTP server (USER/PASS auth, TYPE, PASV, NLST,
    RETR, QUIT) over a directory root — enough protocol that the
    stdlib ftplib client under test speaks to REAL sockets: greeting,
    auth handshake, passive-mode data connections, listings and
    transfers all cross the wire (r19; previously ftp:// was tested
    only against a monkeypatched ftplib.FTP)."""

    def __init__(self, root: str, users: dict[str, str]):
        import socket

        self.root = root
        self.users = users
        self.logins: list[tuple[str, str]] = []
        self._srv = socket.create_server(("127.0.0.1", 0))
        self.port = self._srv.getsockname()[1]
        self._stop = threading.Event()
        threading.Thread(target=self._serve, daemon=True).start()

    def _serve(self) -> None:
        while not self._stop.is_set():
            self._srv.settimeout(0.2)
            try:
                conn, _ = self._srv.accept()
            except TimeoutError:
                continue
            except OSError:
                return
            threading.Thread(
                target=self._handle, args=(conn,), daemon=True
            ).start()

    def _resolve(self, path: str) -> str | None:
        real_root = os.path.realpath(self.root)
        p = os.path.realpath(os.path.join(real_root, path.lstrip("/")))
        if p != real_root and not p.startswith(real_root + os.sep):
            return None  # traversal attempt
        return p

    def _handle(self, conn) -> None:
        import socket

        conn.settimeout(10.0)
        rfile = conn.makefile("rb")

        def send(line: str) -> None:
            conn.sendall((line + "\r\n").encode())

        send("220 strake test ftp")
        user = ""
        authed = False
        data_srv = None
        try:
            while True:
                raw = rfile.readline()
                if not raw:
                    return
                cmd, _, arg = raw.decode().rstrip("\r\n").partition(" ")
                cmd = cmd.upper()
                if cmd == "USER":
                    user = arg
                    send("331 need password")
                elif cmd == "PASS":
                    self.logins.append((user, arg))
                    if self.users.get(user) == arg:
                        authed = True
                        send("230 logged in")
                    else:
                        send("530 login incorrect")
                elif cmd == "QUIT":
                    send("221 bye")
                    return
                elif not authed:
                    send("530 not logged in")
                elif cmd == "TYPE":
                    send("200 type set")
                elif cmd == "PASV":
                    if data_srv is not None:
                        data_srv.close()
                    data_srv = socket.create_server(("127.0.0.1", 0))
                    p = data_srv.getsockname()[1]
                    send(f"227 entering passive mode (127,0,0,1,{p >> 8},{p & 255})")
                elif cmd in ("NLST", "RETR"):
                    if data_srv is None:
                        send("425 use PASV first")
                        continue
                    local = self._resolve(arg)
                    bad = local is None or not os.path.exists(local)
                    if bad or (cmd == "RETR" and not os.path.isfile(local)):
                        send("550 no such file or directory")
                        data_srv.close()
                        data_srv = None
                        continue
                    send("150 opening data connection")
                    data_srv.settimeout(10.0)
                    dconn, _ = data_srv.accept()
                    try:
                        if cmd == "RETR":
                            with open(local, "rb") as fh:
                                dconn.sendall(fh.read())
                        elif os.path.isdir(local):
                            base = arg.rstrip("/")
                            dconn.sendall(
                                "".join(
                                    f"{base}/{n}\r\n"
                                    for n in sorted(os.listdir(local))
                                ).encode()
                            )
                        else:  # NLST on a file lists the file itself
                            dconn.sendall((arg + "\r\n").encode())
                    finally:
                        dconn.close()
                        data_srv.close()
                        data_srv = None
                    send("226 transfer complete")
                else:
                    send("502 command not implemented")
        except Exception:  # noqa: BLE001 — a broken client connection ends the session
            return
        finally:
            if data_srv is not None:
                data_srv.close()
            conn.close()

    def close(self) -> None:
        self._stop.set()
        self._srv.close()


_FTP: dict[str, FtpTestServer] = {}


def ftp_server_for(sf_dir: str) -> FtpTestServer:
    """Live FTP server over the same content-keyed root the sftp entry
    serves (/data/nation.parquet)."""
    with _LOCK:
        if sf_dir not in _FTP:
            srv = FtpTestServer(_nation_root_for(sf_dir), {WIRE_USER: WIRE_PASSWORD})
            _WIRE_SERVERS.append(srv)
            _FTP[sf_dir] = srv
        return _FTP[sf_dir]
