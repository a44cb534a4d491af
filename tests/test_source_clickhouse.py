"""ClickHouse HTTP-interface source, tested against a LIVE in-process
HTTP server emitting real TSVWithNamesAndTypes (DuckDB-backed so
federation-pushed SQL actually executes). The fake sits at the HTTP
boundary: auth headers, escaping, \\N nulls, and the names/types
header are exactly what a real ClickHouse emits."""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import duckdb
import pytest

import strake_spark as ss
from strake_spark.errors import SourceError
from strake_spark.inventory._wire_fakes import make_fake_ch
from strake_spark.sources.clickhouse_http import ClickHouseHttp, _ch_to_spark
from tests.conftest import SF_DIR

@pytest.fixture(scope="module")
def ch(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("chhttp")
    duck_path = str(tmp / "backing.duckdb")
    con = duckdb.connect(duck_path)
    con.execute(
        f"CREATE TABLE orders AS SELECT * FROM read_parquet('{SF_DIR}/orders.parquet')"
    )
    con.execute("""
        CREATE TABLE tricky AS SELECT * FROM (VALUES
          (1, 'tab\there', TIMESTAMP '2024-05-01 12:00:00.5'),
          (2, 'line
break', NULL),
          (3, 'back\\slash', TIMESTAMP '2024-05-03 00:00:00')
        ) t(id, s, ts)
    """)
    con.execute("""
        CREATE TABLE money AS SELECT * FROM (VALUES
          (1, CAST('9876543210987654321098765432.0123456789' AS DECIMAL(38,10))),
          (2, CAST(NULL AS DECIMAL(38,10)))
        ) t(id, bal)
    """)
    con.close()
    srv = make_fake_ch(duck_path, users={"analyst": "k3y"})
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield srv
    srv.shutdown()


class TestHttpClient:
    def test_query_and_types(self, ch):
        c = ClickHouseHttp(f"http://127.0.0.1:{ch.server_port}",
                           user="analyst", password="k3y")
        names, types, rows = c.query("SELECT 1 AS a, 'x' AS b")
        assert names == ["a", "b"]
        assert rows == [["1", "x"]]

    def test_bad_key_rejected(self, ch):
        c = ClickHouseHttp(f"http://127.0.0.1:{ch.server_port}",
                           user="analyst", password="wrong")
        with pytest.raises(SourceError, match="Authentication"):
            c.query("SELECT 1")

    def test_sql_error_surfaces(self, ch):
        c = ClickHouseHttp(f"http://127.0.0.1:{ch.server_port}",
                           user="analyst", password="k3y")
        with pytest.raises(SourceError, match="DB::Exception"):
            c.query("SELECT * FROM nope")

    def test_base_url_with_query_string(self, ch):
        """r19 review: cfg.url may carry ?database=... — gluing '/?'
        after it mangled both parameter sets; params must append
        with '&'."""
        c = ClickHouseHttp(
            f"http://127.0.0.1:{ch.server_port}?database=analytics",
            user="analyst", password="k3y",
        )
        names, _t, rows = c.query("SELECT 1 AS a")
        assert names == ["a"] and rows == [["1"]]

    def test_date_partition_column(self, ch):
        """r19 review: partitions() forced min/max through int(), so a
        Date partition column crashed with a raw ValueError — parity
        with pgwire/mysqlwire requires typed decode into plan_ranges."""
        from pyspark.sql.types import StructType

        from strake_spark.sources.clickhouse_http import ClickHouseDataSource

        r = ClickHouseDataSource(
            {
                "url": f"http://127.0.0.1:{ch.server_port}",
                "user": "analyst", "password": "k3y",
                "table": "orders", "partition_column": "o_orderdate",
                "num_partitions": "3",
            },
        ).reader(StructType())
        parts = r.partitions()
        assert len(parts) == 3
        preds = [p.predicate for p in parts]
        # temporal bounds render as typed literals (the testdata's
        # o_orderdate is timestamp-typed, so TIMESTAMP '...'), never a
        # bare int() crash
        assert "TIMESTAMP '" in preds[1] or "DATE '" in preds[1]
        # first slice catches NULLs, last is unbounded above
        assert "IS NULL" in preds[0] and ">=" in preds[-1]

    def test_string_partition_column_is_loud(self, ch):
        from pyspark.sql.types import StructType

        from strake_spark.sources.clickhouse_http import ClickHouseDataSource

        r = ClickHouseDataSource(
            {
                "url": f"http://127.0.0.1:{ch.server_port}",
                "user": "analyst", "password": "k3y",
                "table": "orders", "partition_column": "o_orderpriority",
                "num_partitions": "3",
            },
        ).reader(StructType())
        with pytest.raises(SourceError, match="non-rangeable"):
            r.partitions()

    def test_type_mapping(self):
        from pyspark.sql import types as T

        assert _ch_to_spark("Nullable(Int64)") == T.LongType()
        assert _ch_to_spark("LowCardinality(String)") == T.StringType()
        assert _ch_to_spark("DateTime64(6)") == T.TimestampNTZType()
        assert _ch_to_spark("UInt64") == T.StringType()  # may exceed long

    def test_decimal_mapping(self):
        from pyspark.sql import types as T

        assert _ch_to_spark("Decimal(18, 4)") == T.DecimalType(18, 4)
        assert _ch_to_spark("Nullable(Decimal(38, 10))") == T.DecimalType(38, 10)
        assert _ch_to_spark("Decimal32(3)") == T.DecimalType(9, 3)
        assert _ch_to_spark("Decimal64(8)") == T.DecimalType(18, 8)
        assert _ch_to_spark("Decimal128(20)") == T.DecimalType(38, 20)
        # Decimal256 (p=76) exceeds Spark's ceiling
        assert _ch_to_spark("Decimal256(10)") == T.DoubleType()

    def test_malformed_server_bytes_are_loud(self):
        """The header and cells are server bytes (r19 opt round): a
        truncated type string must not escape as a raw ValueError from
        rindex, and non-UTF-8 bytes in a field (ClickHouse String is
        raw bytes) must raise SourceError with the server-side fix in
        the message, never a raw UnicodeDecodeError."""
        from pyspark.sql import types as T

        from strake_spark.sources.clickhouse_http import _unescape_field

        assert _ch_to_spark("Decimal(5") == T.DoubleType()
        assert _ch_to_spark("Decimal)(") == T.DoubleType()
        with pytest.raises(SourceError, match="not valid UTF-8"):
            _unescape_field(b"\x8b\xff")
        with pytest.raises(SourceError, match="base64"):
            _unescape_field(b"ok\\n\x8b")  # invalid byte after unescape
        assert _unescape_field(b"ok\\njoin") == "ok\njoin"
        assert _unescape_field(b"\\N") is None

    def test_empty_string_single_column_rows_not_dropped(self, ch):
        """A single-column resultset whose value is '' serializes as a
        bare newline — those rows must still be yielded."""
        c = ClickHouseHttp(f"http://127.0.0.1:{ch.server_port}",
                           user="analyst", password="k3y")
        _n, _t, rows = c.query(
            "SELECT * FROM (VALUES ('a'), (''), ('b')) t(s) ORDER BY s"
        )
        assert rows == [[""], ["a"], ["b"]]


class TestHttps:
    @pytest.fixture(scope="class")
    def ch_tls(self, tmp_path_factory, ch):
        import ssl

        from tests.conftest import make_self_signed_cert

        tmp = tmp_path_factory.mktemp("chtls")
        cert_pem, key_pem = make_self_signed_cert(tmp)
        srv = make_fake_ch(ch.duck_path, users={"analyst": "k3y"})
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        ctx.load_cert_chain(cert_pem, key_pem)
        srv.socket = ctx.wrap_socket(srv.socket, server_side=True)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        srv.ca_path = cert_pem  # type: ignore[attr-defined]
        yield srv
        srv.shutdown()

    def test_https_with_pinned_ca(self, ch_tls):
        c = ClickHouseHttp(f"https://127.0.0.1:{ch_tls.server_port}",
                           user="analyst", password="k3y",
                           ssl_ca=ch_tls.ca_path)
        _n, _t, rows = c.query("SELECT 11 AS v")
        assert rows == [["11"]]

    def test_https_unknown_ca_rejected(self, ch_tls):
        c = ClickHouseHttp(f"https://127.0.0.1:{ch_tls.server_port}",
                           user="analyst", password="k3y")
        with pytest.raises(SourceError, match="unreachable"):
            c.query("SELECT 1")

    def test_https_insecure_mode(self, ch_tls):
        c = ClickHouseHttp(f"https://127.0.0.1:{ch_tls.server_port}",
                           user="analyst", password="k3y", insecure=True)
        _n, _t, rows = c.query("SELECT 12 AS v")
        assert rows == [["12"]]


class TestSparkSource:
    @pytest.fixture(scope="class")
    def engine(self, spark, ch):
        return ss.connect(
            {
                "sources": [{
                    "name": "ch",
                    "type": "clickhouse",
                    "url": f"http://127.0.0.1:{ch.server_port}",
                    "username": "analyst",
                    "password": "k3y",
                    "options": {"num_partitions": 4},
                    "tables": [
                        {"name": "orders", "partition_column": "o_orderkey"},
                        {"name": "tricky"},
                    ],
                }]
            },
            spark=spark,
        )

    def test_partitioned_scan_matches_parquet(self, spark, engine):
        df = spark.table("ch_orders")
        assert df.rdd.getNumPartitions() == 4
        got = engine.execute(
            "SELECT count(*) AS n, sum(o_totalprice) AS s FROM ch_orders"
        ).to_pylist()[0]
        exp = spark.read.parquet(f"{SF_DIR}/orders.parquet").selectExpr(
            "count(*) AS n", "round(sum(o_totalprice), 4) AS s"
        ).collect()[0]
        assert got["n"] == exp.n
        assert round(got["s"], 4) == exp.s

    def test_escaping_and_nulls_roundtrip(self, spark, engine):
        import datetime

        rows = {r.id: r for r in spark.table("ch_tricky").collect()}
        assert rows[1].s == "tab\there"
        assert rows[2].s == "line\nbreak"
        assert rows[3].s == "back\\slash"
        assert rows[2].ts is None
        assert rows[1].ts == datetime.datetime(2024, 5, 1, 12, 0, 0, 500000)

    def test_decimal_schema_and_values_exact(self, spark, ch):
        import decimal

        ss.connect(
            {"sources": [{
                "name": "cdec", "type": "clickhouse",
                "url": f"http://127.0.0.1:{ch.server_port}",
                "username": "analyst", "password": "k3y",
                "tables": [{"name": "money"}],
            }]},
            spark=spark,
        )
        df = spark.table("cdec_money")
        assert df.schema["bal"].dataType.simpleString() == "decimal(38,10)"
        rows = {r.id: r.bal for r in df.collect()}
        assert rows[1] == decimal.Decimal(
            "9876543210987654321098765432.0123456789"
        )
        assert rows[2] is None

    def test_empty_string_rows_roundtrip_through_spark(self, spark, ch):
        ss.connect(
            {"sources": [{
                "name": "emp", "type": "clickhouse",
                "url": f"http://127.0.0.1:{ch.server_port}",
                "username": "analyst", "password": "k3y",
                "tables": [{"name": "orders"}],
            }]},
            spark=spark,
        )
        from strake_spark.sources.clickhouse_http import FORMAT_NAME

        df = (spark.read.format(FORMAT_NAME)
              .option("url", f"http://127.0.0.1:{ch.server_port}")
              .option("user", "analyst").option("password", "k3y")
              .option("query",
                      "SELECT * FROM (VALUES ('a'), (''), ('b')) t(s)")
              .load())
        assert sorted(r.s for r in df.collect()) == ["", "a", "b"]

    def test_federation_pushdown_over_http(self, engine, ch):
        before = len(ch.queries)
        out = engine.execute(
            "SELECT o_orderpriority, count(*) AS n FROM ch_orders "
            "WHERE o_orderkey < 500 GROUP BY o_orderpriority ORDER BY o_orderpriority"
        )
        pushed = [q for q in ch.queries[before:]
                  if "count" in q.lower() and "group by" in q.lower()]
        assert pushed, f"no pushed aggregate in {ch.queries[before:]}"
        assert out.num_rows > 0


class TestLineBound:
    def test_unframed_byte_stream_is_bounded(self, monkeypatch):
        # r19 opt round: readline() on a response with no newlines
        # buffered without limit.
        import io

        monkeypatch.setattr(ClickHouseHttp, "_MAX_LINE", 1024)
        resp = io.BytesIO(b"y" * 4096)
        with pytest.raises(SourceError, match="exceeds 1024 bytes"):
            ClickHouseHttp._bounded_line(resp)
        # a line inside the bound passes through intact
        resp = io.BytesIO(b"a\tb\nrest")
        assert ClickHouseHttp._bounded_line(resp) == b"a\tb\n"
