"""Jar-free Iceberg REST catalog: a live in-process HTTP server speaks
the public REST-catalog routes (config/prefix, OAuth client-credentials
token grant, LoadTableResult), backed by the same on-disk spec-shaped
table the filesystem tests use — so the whole downstream path (manifest
walk, pruning, scan) is exercised through catalog-loaded metadata."""

from __future__ import annotations

import json
import os
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

import strake_spark as ss
from strake_spark.errors import SourceError
from strake_spark.sources.iceberg_rest_native import RestCatalog

# reuse the table-building helpers + fixtures from the filesystem tests
from tests.test_source_iceberg_native import (  # noqa: F401
    iceberg_table,
    part_table,
)


class _Catalog(BaseHTTPRequestHandler):
    tables: dict = {}  # "ns.table" -> metadata dict (class-level)
    static_token = "static-tok"
    oauth_token = "oauth-tok-1"
    counters: dict = {}

    def log_message(self, *a):  # noqa: D102
        pass

    def _json(self, code: int, obj: dict) -> None:
        body = json.dumps(obj).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802
        parsed = urllib.parse.urlparse(self.path)
        parts = [p for p in parsed.path.split("/") if p]
        self.counters[parsed.path] = self.counters.get(parsed.path, 0) + 1
        if parts == ["v1", "config"]:
            q = urllib.parse.parse_qs(parsed.query)
            self.counters["warehouse_param"] = q.get("warehouse", [None])[0]
            return self._json(200, {"defaults": {}, "overrides": {"prefix": "tenant1"}})
        auth = self.headers.get("Authorization", "")
        if auth not in (f"Bearer {self.static_token}", f"Bearer {self.oauth_token}"):
            return self._json(401, {"error": {"message": "unauthorized"}})
        if (
            len(parts) == 6
            and parts[:2] == ["v1", "tenant1"]
            and parts[2] == "namespaces"
            and parts[4] == "tables"
        ):
            ns = urllib.parse.unquote(parts[3]).replace("\x1f", ".")
            key = f"{ns}.{parts[5]}"
            meta = self.tables.get(key)
            if meta is None:
                return self._json(404, {"error": {"message": f"no table {key}"}})
            return self._json(200, {
                "metadata-location": f"mem://{key}", "metadata": meta,
            })
        return self._json(404, {"error": {"message": "bad route"}})

    def do_POST(self):  # noqa: N802
        if self.path == "/v1/oauth/tokens":
            self.counters["token_grants"] = self.counters.get("token_grants", 0) + 1
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            form = urllib.parse.parse_qs(body.decode())
            if form.get("grant_type") != ["client_credentials"] or form.get(
                "client_id"
            ) != ["svc"] or form.get("client_secret") != ["hunter2"]:
                return self._json(400, {"error": {"message": "bad grant"}})
            return self._json(200, {"access_token": self.oauth_token,
                                    "token_type": "bearer", "expires_in": 3600})
        return self._json(404, {"error": {"message": "bad route"}})


def _table_metadata(table_dir: str) -> dict:
    from strake_spark.sources.iceberg_native import load_table_metadata

    return load_table_metadata(table_dir)


@pytest.fixture(scope="module")
def catalog_server(iceberg_table, part_table):
    _Catalog.tables = {
        "default.events_tbl": _table_metadata(iceberg_table),
        "analytics.raw.events_part": _table_metadata(part_table),
    }
    _Catalog.counters = {}
    srv = HTTPServer(("127.0.0.1", 0), _Catalog)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


class TestRestCatalogClient:
    def test_prefix_and_warehouse_param(self, catalog_server):
        cat = RestCatalog(catalog_server, options={"token": "static-tok",
                                                   "warehouse": "wh1"})
        assert cat.prefix() == "tenant1"
        assert _Catalog.counters["warehouse_param"] == "wh1"

    def test_load_table_static_token(self, catalog_server):
        cat = RestCatalog(catalog_server, options={"token": "static-tok"})
        meta = cat.load_table("default", "events_tbl")
        assert meta["format-version"] == 2
        assert len(meta["snapshots"]) == 2

    def test_oauth_grant_and_token_cache(self, catalog_server):
        cat = RestCatalog(catalog_server,
                          options={"credential": "svc:hunter2"})
        before = _Catalog.counters.get("token_grants", 0)
        cat.load_table("default", "events_tbl")
        cat.load_table("default", "events_tbl")
        assert _Catalog.counters["token_grants"] == before + 1  # cached

    def test_bad_credential_rejected(self, catalog_server):
        cat = RestCatalog(catalog_server, options={"credential": "svc:wrong"})
        with pytest.raises(SourceError, match="HTTP 400"):
            cat.load_table("default", "events_tbl")

    def test_non_utf8_body_is_loud(self, catalog_server, monkeypatch):
        # json.loads(bytes) dies in encoding detection with a raw
        # UnicodeDecodeError (not JSONDecodeError) when a proxy answers
        # 200 with a binary body (r19 opt round pinned fuzz class)
        import urllib.request

        class _Resp:
            def read(self):
                return b"\x8b\xff not utf8"

            def __enter__(self):
                return self

            def __exit__(self, *a):
                return False

        monkeypatch.setattr(
            urllib.request, "urlopen", lambda *a, **k: _Resp())
        cat = RestCatalog(catalog_server, options={"token": "static-tok"})
        with pytest.raises(SourceError, match="unreachable"):
            cat.load_table("default", "events_tbl")

    def test_unknown_table_404_with_context(self, catalog_server):
        cat = RestCatalog(catalog_server, options={"token": "static-tok"})
        with pytest.raises(SourceError, match="HTTP 404"):
            cat.load_table("default", "nope")

    def test_unauthorized_without_token(self, catalog_server):
        cat = RestCatalog(catalog_server)
        with pytest.raises(SourceError, match="HTTP 401"):
            cat.load_table("default", "events_tbl")

    def test_multipart_namespace_unit_separator(self, catalog_server):
        cat = RestCatalog(catalog_server, options={"token": "static-tok"})
        meta = cat.load_table("analytics.raw", "events_part")
        assert any(s.get("spec-id") == 0 for s in meta["partition-specs"])

    def test_unreachable_catalog(self):
        cat = RestCatalog("http://127.0.0.1:9", options={}, timeout=0.5)
        with pytest.raises(SourceError, match="unreachable"):
            cat.prefix()


class TestEngineOverRestCatalog:
    @pytest.fixture(scope="class")
    def eng(self, spark, catalog_server):
        return ss.connect(
            {"sources": [{
                "name": "rc", "type": "iceberg_native",
                "url": catalog_server,
                "options": {"token": "static-tok"},
                "tables": [
                    {"name": "events_tbl"},  # namespace defaults to 'default'
                    {"name": "events_part", "schema": "analytics.raw"},
                ],
            }]},
            spark=spark,
        )

    def test_read_through_catalog(self, spark, eng):
        out = eng.execute("SELECT count(*) AS n FROM rc_events_tbl")
        assert out.to_pylist() == [{"n": 5}]
        df = eng.sql("SELECT id FROM rc_events_part ORDER BY id")
        assert [r.id for r in df.collect()] == [1, 2, 3, 4, 5, 6, 7, 8]

    def test_time_travel_through_catalog(self, spark, catalog_server):
        eng2 = ss.connect(
            {"sources": [{
                "name": "rc1", "type": "iceberg_native",
                "url": catalog_server,
                "options": {"token": "static-tok"},
                "tables": [{"name": "events_tbl",
                            "options": {"snapshot_id": 1}}],
            }]},
            spark=spark,
        )
        out = eng2.execute("SELECT count(*) AS n FROM rc1_events_tbl")
        assert out.to_pylist() == [{"n": 3}]

    def test_query_time_pruning_through_catalog(self, spark, eng):
        from strake_spark.plans.iceberg_prune import IcebergPrunePlan

        df = eng.sql(
            "SELECT id FROM rc_events_part WHERE region = 'eu' ORDER BY id"
        )
        assert [r.id for r in df.collect()] == [1, 2, 3, 4]
        plan = eng._last_pushdown
        assert isinstance(plan, IcebergPrunePlan)
        (s,) = plan.scans
        assert (s.files_before, s.files_after) == (4, 2)
