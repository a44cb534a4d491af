"""REST connector: pagination styles x auth modes against an in-process
HTTP server (reference rest.rs inline tests + crates/connectors/tests/
rest_source.rs pattern)."""

from __future__ import annotations

import base64
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from strake_spark.config import parse_config
from strake_spark.sources import rest as rest_src
from strake_spark.sources.registry import ensure_format
from strake_spark.sources.registry import register_source
from tests.conftest import reference_file

ROWS = [{"id": i, "name": f"item_{i}", "score": i * 1.5} for i in range(25)]


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # quiet
        pass

    def _json(self, obj, headers=None):
        body = json.dumps(obj).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def _deny(self, code=401):
        self.send_response(code)
        self.end_headers()

    def do_POST(self):
        if urlparse(self.path).path == "/oauth/noshape":
            # valid JSON, but no access_token field
            return self._json({"token_type": "bearer"})
        if urlparse(self.path).path == "/oauth/token":
            ln = int(self.headers.get("Content-Length", "0"))
            form = parse_qs(self.rfile.read(ln).decode())
            if form.get("client_id") == ["cid"] and form.get("client_secret") == ["sec"]:
                self._json({"access_token": "OAUTH-TOK", "expires_in": 3600})
            else:
                self._deny()
        elif self.path == "/token_endless":
            # POST/GraphQL flavor of the endless cursor
            ln = int(self.headers.get("Content-Length", "0"))
            body = json.loads(self.rfile.read(ln)) if ln else {}
            after = (body.get("variables") or {}).get("after")
            start = int(after) if after else 0
            self._json({"items": ROWS[:3], "next_token": str(start + 1),
                        "has_more": True})
        else:
            self._deny(404)

    def do_GET(self):
        u = urlparse(self.path)
        q = {k: v[0] for k, v in parse_qs(u.query).items()}
        path = u.path

        if path == "/plain":
            return self._json(ROWS)
        if path == "/token_endless":
            # never-ending cursor; has_more goes False on the 3rd page
            # (cursor stays live — like GitHub GraphQL's endCursor)
            start = int(q.get("page_token", 0))
            return self._json({
                "items": ROWS[:3],
                "next_token": str(start + 1),
                "has_more": start < 2,
            })
        if path == "/offset":
            off, lim = int(q.get("offset", 0)), int(q.get("limit", 10))
            return self._json({"data": ROWS[off : off + lim]})
        if path == "/offset_counted":
            off, lim = int(q.get("offset", 0)), int(q.get("limit", 10))
            return self._json({"data": ROWS[off : off + lim], "total": len(ROWS)})
        if path == "/paged":
            page, lim = int(q.get("page", 1)), int(q.get("limit", 10))
            start = (page - 1) * lim
            return self._json({"data": ROWS[start : start + lim]})
        if path == "/token":
            start = int(q.get("page_token", 0))
            chunk = ROWS[start : start + 10]
            nxt = str(start + 10) if start + 10 < len(ROWS) else None
            return self._json({"items": chunk, "next_token": nxt})
        if path == "/linked":
            start = int(q.get("start", 0))
            chunk = ROWS[start : start + 10]
            headers = {}
            if start + 10 < len(ROWS):
                host = self.headers["Host"]
                headers["Link"] = f'<http://{host}/linked?start={start + 10}>; rel="next"'
            return self._json(chunk, headers)
        if path == "/bodyurl":
            start = int(q.get("start", 0))
            chunk = ROWS[start : start + 10]
            host = self.headers["Host"]
            nxt = (
                f"http://{host}/bodyurl?start={start + 10}"
                if start + 10 < len(ROWS)
                else None
            )
            return self._json({"results": chunk, "next": nxt})
        if path == "/secure/basic":
            expect = "Basic " + base64.b64encode(b"alice:pw").decode()
            if self.headers.get("Authorization") != expect:
                return self._deny()
            return self._json(ROWS[:5])
        if path == "/secure/bearer":
            if self.headers.get("Authorization") != "Bearer sekret":
                return self._deny()
            return self._json(ROWS[:5])
        if path == "/secure/oauth":
            if self.headers.get("Authorization") != "Bearer OAUTH-TOK":
                return self._deny()
            return self._json(ROWS[:5])
        if path == "/filtered":
            status = q.get("status")
            rows = [dict(r, status=status or "any") for r in ROWS[:3]]
            return self._json(rows)
        if path == "/notjson":
            # a proxy/banner page answering 200 with HTML
            body = b"<html><body>gateway maintenance</body></html>"
            self.send_response(200)
            self.send_header("Content-Type", "text/html")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return None
        self._deny(404)


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def _load(spark, url, **options):
    ensure_format(spark, rest_src.RestDataSource)
    reader = spark.read.format(rest_src.FORMAT_NAME).option("url", url)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def _check_all_rows(df):
    got = sorted((r.id, r.name) for r in df.collect())
    assert got == [(r["id"], r["name"]) for r in ROWS]
    assert df.schema["score"].dataType.simpleString() == "double"


class TestPagination:
    def test_single_page(self, spark, server):
        _check_all_rows(_load(spark, f"{server}/plain"))

    def test_offset(self, spark, server):
        df = _load(
            spark, f"{server}/offset",
            pagination="offset", page_size="10", records_path="data",
        )
        _check_all_rows(df)

    def test_offset_parallel_with_declared_total(self, spark, server):
        df = _load(
            spark, f"{server}/offset",
            pagination="offset", page_size="5", records_path="data",
            total=str(len(ROWS)), num_partitions="3",
        )
        assert df.rdd.getNumPartitions() == 3
        _check_all_rows(df)

    def test_offset_parallel_with_total_field(self, spark, server):
        df = _load(
            spark, f"{server}/offset_counted",
            pagination="offset", page_size="10", records_path="data",
            total_field="total", num_partitions="2",
        )
        assert df.rdd.getNumPartitions() == 2
        _check_all_rows(df)

    def test_page_number(self, spark, server):
        df = _load(
            spark, f"{server}/paged",
            pagination="page", page_size="10", records_path="data",
        )
        _check_all_rows(df)

    def test_token(self, spark, server):
        df = _load(
            spark, f"{server}/token",
            pagination="token", records_path="items", token_field="next_token",
        )
        _check_all_rows(df)

    def test_link_header(self, spark, server):
        df = _load(spark, f"{server}/linked", pagination="link")
        _check_all_rows(df)

    def test_body_url(self, spark, server):
        df = _load(
            spark, f"{server}/bodyurl",
            pagination="body_url", records_path="results", next_url_field="next",
        )
        _check_all_rows(df)


class TestAuth:
    def test_basic(self, spark, server):
        df = _load(
            spark, f"{server}/secure/basic",
            auth_type="basic", username="alice", password="pw",
        )
        assert df.count() == 5

    def test_bearer(self, spark, server):
        df = _load(spark, f"{server}/secure/bearer", auth_type="bearer", token="sekret")
        assert df.count() == 5

    def test_oauth2_client_credentials(self, spark, server):
        df = _load(
            spark, f"{server}/secure/oauth",
            auth_type="oauth2", token_url=f"{server}/oauth/token",
            client_id="cid", client_secret="sec",
        )
        assert df.count() == 5

    def test_bad_credentials_surface(self, spark, server):
        with pytest.raises(Exception, match="401"):
            # schema inference fetches the sample page -> auth error here
            _load(spark, f"{server}/secure/bearer", auth_type="bearer", token="WRONG")

    def test_jwt_requires_key_and_gates_rs256(self, spark, server):
        from strake_spark.sources.rest import _Auth

        # HS256 needs jwt_key, RS256/ES256 need jwt_private_key_pem
        with pytest.raises(ValueError, match="secret"):
            _Auth({"auth_type": "jwt"}).headers()
        with pytest.raises(ValueError, match="private_key_pem"):
            _Auth({"auth_type": "jwt", "jwt_algorithm": "RS256"}).headers()
        with pytest.raises(ValueError, match="private_key_pem"):
            _Auth({"auth_type": "jwt", "jwt_algorithm": "ES256"}).headers()
        # longer EC variants need key material too
        with pytest.raises(ValueError, match="private_key_pem"):
            _Auth({"auth_type": "jwt", "jwt_algorithm": "ES384"}).headers()


class TestRegistration:
    def test_register_source_with_declared_columns(self, spark, server):
        cfg = parse_config(
            {
                "sources": [
                    {
                        "name": "api",
                        "type": "rest",
                        "url": server,
                        "options": {"pagination": "offset", "page_size": 10,
                                    "records_path": "data"},
                        "tables": [
                            {
                                "name": "offset",
                                "columns": [
                                    {"name": "id", "type": "bigint"},
                                    {"name": "name", "type": "string"},
                                    {"name": "score", "type": "double"},
                                ],
                            }
                        ],
                    }
                ]
            }
        )
        views = register_source(spark, cfg.sources[0])
        assert views == ["api_offset"]
        assert spark.sql("SELECT count(*) AS n FROM api_offset").collect()[0].n == 25
        assert spark.table("api_offset").schema["id"].dataType.simpleString() == "bigint"

    def test_static_params_forwarded(self, spark, server):
        df = _load(
            spark, f"{server}/filtered", params=json.dumps({"status": "active"})
        )
        rows = df.collect()
        assert len(rows) == 3 and all(r.status == "active" for r in rows)


class TestReferenceExampleConfig:
    """The reference's documented YAML nests connection details under
    `config:` (docs/examples/github_source.yaml). A pasted example must
    parse into a WORKING source — round 8 found the nested block was
    silently dropped (url None, options empty)."""

    def test_github_example_parses_verbatim(self):
        import yaml

        raw = yaml.safe_load(open(reference_file("docs/examples/github_source.yaml")))
        cfg = parse_config(raw)
        s = cfg.sources[0]
        assert s.type == "rest"
        assert s.url == "https://api.github.com"
        assert json.loads(s.options["headers"])["User-Agent"] == "strake-data"
        # reference pagination type "header" (Link header) -> our "link"
        assert s.options["pagination"] == "link"
        assert [t.name for t in s.tables] == ["repos", "issues"]
        assert s.tables[0].columns[0].name == "id"
        # the reference spells types "data_type" — must not silently
        # degrade every declared column to string (r9)
        types = {c.name: c.type for c in s.tables[0].columns}
        assert types["stargazers_count"] == "int" and types["name"] == "string"

    def test_nested_config_source_serves_requests(self, spark, server):
        """End-to-end with the reference spelling: nested config block,
        dict headers, structured pagination."""
        cfg = parse_config({
            "sources": [{
                "name": "gh", "type": "rest",
                "config": {
                    "base_url": server,
                    "headers": {"User-Agent": "strake-spark-test"},
                    "pagination": {"type": "header", "header_name": "link"},
                },
                "tables": [{"name": "items", "path": "/linked"}],
            }]
        })
        views = register_source(spark, cfg.sources[0])
        assert views == ["gh_items"]
        got = spark.table("gh_items").count()
        assert got == len(ROWS)


class TestReferenceMainConfig:
    def test_strake_yaml_spellings_fold_in(self):
        """config/strake.yaml nests the budget under server: and spells
        telemetry enabled+endpoint — both must reach EngineConfig."""
        cfg = parse_config({
            "server": {"global_connection_budget": 7},
            "telemetry": {"enabled": True, "endpoint": "http://otel:4317",
                          "service_name": "svc"},
            "cache": {"enabled": False},
        })
        assert cfg.global_connection_budget == 7
        assert cfg.telemetry.otlp_endpoint == "http://otel:4317"
        # disabled telemetry must NOT export even with an endpoint
        off = parse_config({
            "telemetry": {"enabled": False, "endpoint": "http://otel:4317"},
        })
        assert off.telemetry.otlp_endpoint is None


class TestQuickstartSpelling:
    def test_type_sql_dialect_connection(self):
        """quickstart.md spells sources as type: sql + dialect +
        connection — the dialect is the concrete type, connection the
        url."""
        cfg = parse_config({"sources": [{
            "name": "demo_pg", "type": "sql", "dialect": "postgres",
            "connection": "postgres://u:p@localhost:5432/db",
        }]})
        s = cfg.sources[0]
        assert s.type == "postgres"
        assert s.url == "postgres://u:p@localhost:5432/db"


class TestSecurityGuardMode:
    def test_agent_guard_mode_parses_from_security_block(self):
        cfg = parse_config({"security": {"agent_guard_mode": "dry_run"}})
        assert cfg.agent_guard_mode == "dry_run"
        assert parse_config({}).agent_guard_mode == "disabled"


class TestAllReferenceConfigsParse:
    def test_every_shipped_reference_config_parses(self):
        """Every YAML the reference ships must parse verbatim — the
        switch-over story is 'point the engine at your existing
        config'."""
        import yaml

        from strake_spark.governance.contracts import parse_contracts
        from strake_spark.governance.policies import parse_policies

        main = parse_config(yaml.safe_load(open(reference_file("config/strake.yaml"))))
        assert main.global_connection_budget == 100
        assert main.agent_guard_mode == "dry_run"
        assert main.cache.enabled and main.cache.max_mb == 2048
        assert main.telemetry.otlp_endpoint is None  # enabled: false
        contracts = parse_contracts(
            yaml.safe_load(open(reference_file("config/contracts.yaml"))))
        assert [(c.table, c.strict) for c in contracts.contracts] == [
            ("pg.orders", True), ("pg.lineitem", False)]
        policies = parse_policies(
            yaml.safe_load(open(reference_file("config/policies.yaml"))))
        assert set(policies.roles) == {"analyst", "admin"}
        gh = parse_config(
            yaml.safe_load(open(reference_file("docs/examples/github_source.yaml"))))
        assert gh.sources[0].url == "https://api.github.com"


class TestPaginationTermination:
    """Runaway-pagination guard: a server that never stops feeding
    next-cursors must hit the max_pages ceiling with a loud SourceError,
    for every cursor style — including the POST/GraphQL body-injected
    cursor added in r9 (real APIs keep endCursor non-null on the last
    page, so an ignored has-more flag means an infinite loop)."""

    def _opts(self, server, **kw):
        base = {"url": f"{server}/token_endless", "records_path": "items",
                "max_pages": "7"}
        base.update(kw)
        return base

    def test_token_style_runaway_raises(self, server):
        from strake_spark.errors import SourceError
        from strake_spark.sources.rest import _fetch_pages

        with pytest.raises(SourceError, match="max_pages"):
            for _ in _fetch_pages(self._opts(server, pagination="token")):
                pass

    def test_post_body_cursor_runaway_raises(self, server):
        from strake_spark.errors import SourceError
        from strake_spark.sources.rest import _fetch_pages

        opts = self._opts(
            server,
            pagination="token",
            body=json.dumps({"query": "q", "variables": {"after": None}}),
            token_body_field="variables.after",
        )
        with pytest.raises(SourceError, match="max_pages"):
            for _ in _fetch_pages(opts):
                pass

    def test_token_body_field_without_body_rejected_up_front(self, server):
        # With token_body_field but no body template the cursor has
        # nowhere to go — the fetch would silently repeat page 1 until
        # max_pages. Must fail fast with an actionable message instead.
        from strake_spark.errors import SourceError
        from strake_spark.sources.rest import _fetch_pages

        opts = self._opts(
            server, pagination="token", token_body_field="variables.after"
        )
        with pytest.raises(SourceError, match="token_body_field requires"):
            for _ in _fetch_pages(opts):
                pass

    def test_token_body_field_ignored_under_other_styles(self, server):
        # r13 (ADVICE r12): the guard is scoped to token pagination —
        # a stray token_body_field under offset/page/none is unused and
        # must not reject the otherwise-valid config.
        from strake_spark.sources.rest import _fetch_pages

        opts = self._opts(
            server, pagination="offset", token_body_field="variables.after"
        )
        pages = list(_fetch_pages(opts))
        assert pages  # fetch completed normally

    def test_more_field_false_stops_despite_live_cursor(self, server):
        from strake_spark.sources.rest import _fetch_pages

        opts = self._opts(
            server,
            pagination="token",
            more_field="has_more",  # server sets it False on page 3
        )
        pages = list(_fetch_pages(opts))
        assert len(pages) == 3


class TestHostileResponseBodies:
    """Server bytes must fail loudly (r19 opt round): a 200 with a
    non-JSON body raises SourceError carrying the body head, and a
    token endpoint without access_token raises SourceError — never raw
    JSONDecodeError / KeyError."""

    def test_non_json_body_is_loud(self, server):
        from strake_spark.errors import SourceError
        from strake_spark.sources.rest import _fetch_pages

        with pytest.raises(SourceError, match="not JSON.*maintenance"):
            for _ in _fetch_pages({"url": f"{server}/notjson"}):
                pass

    def test_token_endpoint_without_access_token_is_loud(self, server):
        from strake_spark.errors import SourceError
        from strake_spark.sources.rest import _Auth

        auth = _Auth({
            "auth_type": "oauth2",
            "token_url": f"{server}/oauth/noshape",  # valid JSON, wrong shape
            "client_id": "cid", "client_secret": "sec",
        })
        with pytest.raises(SourceError, match="no access_token"):
            auth._oauth2_token()

    def test_mistyped_field_names_column_and_sample(self):
        from pyspark.sql.types import LongType, StructField, StructType

        from strake_spark.errors import SourceError
        from strake_spark.sources.rest import _records_to_batch

        schema = StructType([StructField("id", LongType())])
        with pytest.raises(SourceError, match="field 'id'.*sample 'abc'"):
            _records_to_batch([{"id": "abc"}], schema)
