"""REST HTTP API façade over the governed engine.

Mirrors the reference server's axum router (crates/server/src/api.rs:
22-60 — /api/v1/sources, /api/v1/query, /api/v1/validate, /api/v1/lineage,
/api/v1/introspect/{domain}/{source}) plus the unauthenticated health
plane (crates/server/src/lib.rs:299-304 — /health, /ready, /metrics).

Response shapes follow crates/common/src/models.rs:
- QueryResponse  {status, data, message}
- ValidationResponse {valid, errors}
- TableDiscovery {name, schema}

stdlib-only (`http.server.ThreadingHTTPServer`): the server is a thin
door — queries execute on the engine's SparkSession through the full
governed path (gate -> limit -> cost -> timeout -> cache), and compute
scale-out is Spark's job, matching the reference's stateless-replica
architecture (docs/architecture.md:74-92). Auth: optional static bearer
token or an OIDC-style validator (strake_spark.jwtauth.OidcValidator);
the health plane stays open, as in the reference.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

import logging

from strake_spark.errors import ErrorCode, StrakeError
from strake_spark.jwtauth import AuthError
from strake_spark.license import LicenseState as _LicenseState
from strake_spark.scrubber import scrub as _scrub

_audit_log = logging.getLogger("strake_spark.audit")

_INTROSPECT_TABLE = re.compile(r"^/api/v1/introspect/([A-Za-z_][A-Za-z0-9_]*)$")
_INTROSPECT_SOURCE = re.compile(
    r"^/api/v1/introspect/([A-Za-z_][A-Za-z0-9_]*)/([A-Za-z_][A-Za-z0-9_]*)$"
)
_INTROSPECT_TABLES_POST = re.compile(
    r"^/api/v1/introspect/([A-Za-z_][A-Za-z0-9_]*)/([A-Za-z_][A-Za-z0-9_]*)/tables$"
)


def _json_default(o: Any) -> str:
    return str(o)




def _error_body(
    exc: Exception | None = None,
    message: str | None = None,
    code: ErrorCode | None = None,
    trunc: int | None = None,
) -> dict:
    """REST error body carrying the stable STRAKE-NNNN code.

    The reference threads ErrorCode through both server facades so API
    users branch on codes, not prose (crates/error/src/lib.rs:79 JSON
    shape: the ``code`` field is the formatted string). A StrakeError
    brings its own code (+ optional hint); anything else is STRAKE-9999
    unless the call site classifies it."""
    if exc is not None and not isinstance(exc, StrakeError):
        # non-governed paths (explain/lineage/validate) surface raw
        # Spark exceptions; classify condition-carrying ones so those
        # routes emit real codes instead of STRAKE-9999
        from strake_spark.convert import classify_exception

        classified = classify_exception(exc)
        if classified is not None:
            exc = classified
    if isinstance(exc, StrakeError):
        payload = exc.payload()
        body = {"status": "error", "data": None, "message": payload.pop("message")}
        body.update(payload)
        return body
    msg = message if message is not None else str(exc)
    if trunc:
        msg = msg[:trunc]
    c = code if code is not None else ErrorCode.UNKNOWN
    return {
        "status": "error",
        "data": None,
        "message": msg,
        "code": c.as_str(),
        "category": c.category.value,
    }


class _Handler(BaseHTTPRequestHandler):
    server_version = "strake-spark-rest/1"

    # Populated via functools.partial-like class attribute on the server.
    @property
    def engine(self):
        return self.server.engine  # type: ignore[attr-defined]

    def log_message(self, fmt, *args):  # noqa: A003 - quiet by default
        pass

    # ------------------------------------------------------------ plumbing
    def _send(self, code: int, payload: Any, content_type: str = "application/json") -> None:
        body = (
            payload
            if isinstance(payload, bytes)
            else json.dumps(payload, default=_json_default).encode()
        )
        self.send_response(code)
        self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self):
        n = int(self.headers.get("Content-Length") or 0)
        if n == 0:
            return {}
        raw = self.rfile.read(n)
        try:
            out = json.loads(raw)
        except json.JSONDecodeError as e:
            raise ValueError(f"invalid JSON body: {e}") from None
        if not isinstance(out, (dict, list)):
            raise ValueError("JSON body must be an object or array")
        return out

    # REST route -> API-key verb scope (apikeys.VERBS); query-like
    # routes need "execute", introspection maps to the control verbs
    _VERB_FOR_PATH = (
        ("/api/v1/query", "execute"),
        ("/api/v1/profile", "execute"),
        ("/api/v1/sources", "list_sources"),
        ("/api/v1/introspect", "describe"),
        ("/api/v1/explain", "explain_tree"),
        ("/api/v1/lineage", "explain_tree"),
        ("/api/v1/impact", "explain_tree"),
        ("/api/v1/spans", "trace"),
        ("/api/v1/drift", "describe"),
    )

    def _verb(self, path: str) -> str:
        for prefix, verb in self._VERB_FOR_PATH:
            if path.startswith(prefix):
                return verb
        return "execute"  # default: the most privileged mapping

    def _authorized(self) -> dict | None:
        """Returns claims (or {}) when authorized, None after sending 401.
        The health plane (/health, /ready, /metrics) is always open."""
        srv = self.server
        auth_header = self.headers.get("Authorization")
        keys = getattr(srv, "key_manager", None)
        bare = (auth_header or "")
        if bare.startswith("Bearer "):
            bare = bare[len("Bearer "):]
        if keys is not None and bare.startswith("sk_"):
            from strake_spark.apikeys import ApiKeyError

            path = self.path.split("?", 1)[0].rstrip("/")
            try:
                ki = keys.verify(bare, verb=self._verb(path))
            except ApiKeyError as e:
                # 403 for a VALID key denied by scope (4002), 401 for a
                # bad/expired credential — branch on the code, never on
                # message prose (the contract exists for exactly this)
                self._send(
                    403 if e.code is ErrorCode.AUTHORIZATION_DENIED else 401,
                    _error_body(e),
                )
                return None
            return {"sub": ki.user} if ki.user else {}
        if keys is not None and srv.token is None and srv.validator is None:  # type: ignore[attr-defined]
            self._send(401, _error_body(message="API key required (sk_...)", code=ErrorCode.AUTHENTICATION_FAILED))
            return None
        if srv.validator is not None:  # type: ignore[attr-defined]
            try:
                return srv.validator.validate(auth_header)  # type: ignore[attr-defined]
            except AuthError as e:
                self._send(401, _error_body(e))
                return None
        if srv.token is not None:  # type: ignore[attr-defined]
            import hmac as _hmac

            expect = f"Bearer {srv.token}"  # type: ignore[attr-defined]
            if not _hmac.compare_digest(auth_header or "", expect):
                self._send(401, _error_body(message="invalid token", code=ErrorCode.AUTHENTICATION_FAILED))
                return None
        return {}

    # ------------------------------------------------------------- routes
    def do_GET(self) -> None:  # noqa: N802 - http.server API
        path = self.path.split("?", 1)[0].rstrip("/") or "/"
        if path == "/health":
            return self._send(200, {"status": "ok"})
        if path == "/ready":
            return self._send(200, {"status": "ready"})
        if path == "/metrics":
            return self._metrics()
        claims = self._authorized()
        if claims is None:
            return None
        if path == "/api/v1/sources":
            return self._sources()
        if path == "/api/v1/spans":
            # trace introspection (reference telemetry surface): the
            # in-process ring buffer, newest last
            return self._send(
                200,
                {"status": "success", "data": self.engine.spans(), "message": None},
            )
        if path == "/api/v1/drift":
            # schema-drift audit (r15): the engine's structured drift
            # records (sources/drift.py, STRAKE-2009..2011 codes) — the
            # reference surfaces drift warnings on both server facades;
            # this is the read-only introspection equivalent
            return self._send(
                200,
                {"status": "success", "data": self.engine.drift_report(),
                 "message": None},
            )
        m = _INTROSPECT_SOURCE.match(path)
        if m:
            return self._list_tables(m.group(1), m.group(2))
        m = _INTROSPECT_TABLE.match(path)
        if m:
            return self._introspect_table(m.group(1))
        return self._send(404, _error_body(message=f"no route {path}"))

    def do_POST(self) -> None:  # noqa: N802
        path = self.path.split("?", 1)[0].rstrip("/")
        claims = self._authorized()
        if claims is None:
            return None
        try:
            body = self._body()
        except ValueError as e:
            # request-body parse failure -> 5002 (the reference's serde
            # mapping, convert.rs:59-63)
            return self._send(
                400, _error_body(message=str(e), code=ErrorCode.SERIALIZATION_FAILED)
            )
        m = _INTROSPECT_TABLES_POST.match(path)
        if m:
            return self._introspect_tables(m.group(1), m.group(2), body)
        if not isinstance(body, dict):
            return self._send(
                400, _error_body(message="JSON body must be an object", code=ErrorCode.SERIALIZATION_FAILED)
            )
        if path == "/api/v1/query":
            return self._query(body, claims)
        if path == "/api/v1/validate":
            return self._validate(body)
        if path == "/api/v1/explain":
            return self._explain(body)
        if path == "/api/v1/profile":
            return self._profile(body, claims)
        if path == "/api/v1/lineage":
            return self._lineage(body)
        if path == "/api/v1/contracts/validate":
            return self._contracts(body)
        if path == "/api/v1/audit/masking":
            return self._masking_audit(body, claims)
        if path == "/api/v1/impact":
            return self._impact(body)
        return self._send(404, _error_body(message=f"no route {path}"))

    def _explain(self, body: dict) -> None:
        """Plan tree with pushdown markers, no execution (the engine's
        explain_tree / trace surface over HTTP)."""
        sql = body.get("sql")
        if not sql:
            return self._send(
                400, _error_body(message="missing 'sql'", code=ErrorCode.MISSING_REQUIRED_FIELD)
            )
        try:
            tree = self.engine.explain_tree(sql)
        except StrakeError as e:
            return self._send(400, _error_body(e))
        except Exception as e:
            return self._send(400, _error_body(e, trunc=500))
        self._send(200, {"status": "success", "data": {"plan": tree}, "message": None})

    def _lineage(self, body: dict) -> None:
        """Column-level lineage over HTTP (engine.lineage): no
        execution, plan-time only."""
        sql = body.get("sql")
        if not sql:
            return self._send(
                400, _error_body(message="missing 'sql'", code=ErrorCode.MISSING_REQUIRED_FIELD)
            )
        try:
            lin = self.engine.lineage(sql)
        except StrakeError as e:
            return self._send(400, _error_body(e))
        except Exception as e:
            return self._send(400, _error_body(e, trunc=500))
        self._send(200, {"status": "success", "data": lin, "message": None})

    def _contracts(self, body: dict) -> None:
        """Contract validation over HTTP (engine.validate_contracts):
        schema errors + row-rule violation counts; optional
        sample_fraction keeps the scan bounded at scale."""
        try:
            rep = self.engine.validate_contracts(
                check_data=bool(body.get("check_data", True)),
                sample_fraction=body.get("sample_fraction"),
            )
        except StrakeError as e:
            return self._send(400, _error_body(e))
        except Exception as e:
            return self._send(400, _error_body(e, trunc=500))
        self._send(200, {"status": "success", "data": rep, "message": None})

    def _masking_audit(self, body: dict, claims: dict) -> None:
        """Masked-column audit for a statement (engine.masking_audit):
        output + filter (inference) channels. The audited principal is
        the authenticated subject when present, else body['user']."""
        sql = body.get("sql")
        user = claims.get("sub") or body.get("user")
        if not sql or not user:
            return self._send(
                400,
                _error_body(message="missing 'sql' or 'user'", code=ErrorCode.MISSING_REQUIRED_FIELD),
            )
        try:
            rep = self.engine.masking_audit(sql, user)
        except StrakeError as e:
            return self._send(400, _error_body(e))
        except Exception as e:
            return self._send(400, _error_body(e, trunc=500))
        self._send(200, {"status": "success", "data": rep, "message": None})

    def _impact(self, body: dict) -> None:
        """Reverse lineage (engine.impact): which logged statements read
        a given 'view.column'."""
        column = body.get("column")
        queries = body.get("queries")
        if not column or (
            queries is not None
            and (isinstance(queries, str)
                 or not isinstance(queries, list)
                 or not all(isinstance(q, str) for q in queries))
        ):
            return self._send(
                400,
                _error_body(
                    message="need 'column' (and 'queries' as a list of SQL strings)",
                    code=ErrorCode.MISSING_REQUIRED_FIELD,
                ),
            )
        try:
            rep = self.engine.impact(column, queries=body.get("queries"))
        except StrakeError as e:
            return self._send(400, _error_body(e))
        except Exception as e:
            return self._send(400, _error_body(e, trunc=500))
        self._send(200, {"status": "success", "data": rep, "message": None})

    def _profile(self, body: dict, claims: dict) -> None:
        """EXPLAIN ANALYZE over HTTP: executes (governed, same principal
        rule as _query) and returns the runtime-metric plan report."""
        sql = body.get("sql")
        if not sql:
            return self._send(
                400, _error_body(message="missing 'sql'", code=ErrorCode.MISSING_REQUIRED_FIELD)
            )
        user = claims.get("sub") or body.get("user")
        # same W3C trace-context propagation as _query: a profile run
        # joins the caller's distributed trace
        traceparent = self.headers.get("traceparent")
        try:
            report = self.engine.profile(sql, user=user, traceparent=traceparent)
        except StrakeError as e:
            return self._send(400, _error_body(e))
        except Exception as e:
            return self._send(400, _error_body(e, trunc=500))
        self._send(200, {"status": "success", "data": report, "message": None})

    # ------------------------------------------------------------ handlers
    # counters grow monotonically; everything else is a point-in-time gauge
    _COUNTER_METRICS = frozenset(
        {"queries_planned", "queries_executed", "cache_hits", "cache_text_hits",
         "pushdown_queries", "span_export_errors"}
    )
    _METRIC_HELP = {
        "queries_planned": "Queries that passed the gate and were planned",
        "queries_executed": "Queries executed to completion",
        "cache_hits": "Queries served from the result cache",
        "cache_text_hits": "Cache hits resolved by statement text, without planning",
        "pushdown_queries": "Queries with a remote pushdown plan",
        "sources_registered": "Registered source connectors",
        "spans_recorded": "Trace spans in the in-process ring buffer",
        "span_export_errors": "OTLP span export failures (best-effort)",
        "breaker_state": "Circuit-breaker state per source (1 = in this state)",
    }

    def _metrics(self) -> None:
        """Prometheus text exposition of the engine counters, with
        HELP/TYPE metadata per the exposition format spec. Values must
        be numeric (a single malformed sample fails the whole scrape),
        so enum-ish state maps become labeled 1-valued gauges."""
        lines = []

        def meta(key: str) -> None:
            help_ = self._METRIC_HELP.get(key)
            if help_:
                lines.append(f"# HELP strake_{key} {help_}")
            kind = "counter" if key in self._COUNTER_METRICS else "gauge"
            lines.append(f"# TYPE strake_{key} {kind}")

        for k, v in sorted(self.engine.metrics().items()):
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                meta(k)
                lines.append(f"strake_{k} {v}")
            elif isinstance(v, dict):  # e.g. breaker_states
                key = k.rstrip("s")  # breaker_states -> breaker_state
                meta(key)
                for sub, state in sorted(v.items()):
                    lines.append(
                        f'strake_{key}{{source="{sub}",state="{state}"}} 1'
                    )
        self._send(200, ("\n".join(lines) + "\n").encode(), content_type="text/plain")

    def _sources(self) -> None:
        out = []
        views = self.engine.list_sources()
        for cfg in self.engine.config.sources:
            out.append(
                {
                    "name": cfg.name,
                    "type": cfg.type,
                    "url": cfg.url,
                    "tables": views.get(cfg.name, []),
                }
            )
        self._send(200, {"domain": None, "sources": out})

    def _list_tables(self, _domain: str, source: str) -> None:
        views = self.engine.list_sources()
        if source not in views:
            return self._send(
                404, _error_body(message=f"unknown source {source}", code=ErrorCode.SOURCE_NOT_FOUND)
            )
        self._send(200, [{"name": v, "schema": source} for v in views[source]])

    def _introspect_table(self, view: str) -> None:
        try:
            cols = self.engine.describe(view)
        except StrakeError as e:
            return self._send(400, _error_body(e))
        except Exception as e:  # unknown view -> Spark AnalysisException
            return self._send(404, _error_body(e, trunc=300))
        self._send(200, {"table": view, "columns": cols})

    def _introspect_tables(self, domain: str, source: str, body) -> None:
        """Config-shaped introspection (reference api.rs:106-198
        introspect_tables): POST a list of table names (bare array or
        {"tables": [...]}) -> a SourcesConfig fragment with live column
        schemas, ready to paste into sources.yaml."""
        names = body if isinstance(body, list) else body.get("tables", [])
        if not isinstance(names, list) or not all(isinstance(n, str) for n in names):
            return self._send(
                400, _error_body(message="expected a list of table names", code=ErrorCode.SERIALIZATION_FAILED)
            )
        cfg = next((s for s in self.engine.config.sources if s.name == source), None)
        out = {
            "domain": domain,
            "sources": [{
                "name": source,
                "type": cfg.type if cfg else "sql",
                "url": cfg.url if cfg else None,
                "tables": [],
            }],
        }
        views = self.engine.list_sources().get(source, [])
        for full in names:
            tname = full.split(".")[-1]
            view = f"{source}_{tname}"
            if view not in views:
                continue
            cols = self.engine.describe(view)
            out["sources"][0]["tables"].append(
                {
                    "name": tname,
                    "columns": [
                        {"name": c["column"], "data_type": c["type"],
                         "not_null": not c["nullable"]}
                        for c in cols
                    ],
                }
            )
        self._send(200, out)

    def _query(self, body: dict, claims: dict) -> None:
        sql = body.get("sql")
        if not sql:
            return self._send(
                400, _error_body(message="missing 'sql'", code=ErrorCode.MISSING_REQUIRED_FIELD)
            )
        # License check (reference api.rs:237-244) — same message, same
        # QueryResponse shape; HTTP 403 where axum's Json defaults to
        # 200-with-error-status (a deliberate HTTP-correctness delta).
        lc = getattr(self.server, "license_cache", None)
        if lc is not None and lc.current_state() is _LicenseState.INVALID:
            return self._send(
                403,
                _error_body(
                    message="License invalid. Please renew subscription.",
                    code=ErrorCode.AUTHORIZATION_DENIED,
                ),
            )
        # The AUTHENTICATED principal wins: letting the body override the
        # OIDC sub would allow any caller to borrow another user's
        # row-level-security / masking profile. The body field only
        # applies on unauthenticated/static-token deployments.
        user = claims.get("sub") or body.get("user")
        # Audit event with SCRUBBED SQL (reference api.rs rest_query +
        # common/scrubber.rs): PII-shaped literals never reach the log
        # sink; the engine's own query log keeps raw SQL for impact().
        _audit_log.info(
            "rest_query user_id=%s sql=%s", user or "", _scrub(sql)
        )
        # W3C trace-context propagation: a caller-supplied traceparent
        # joins the query span to the caller's distributed trace
        traceparent = self.headers.get("traceparent")
        try:
            table = self.engine.execute(
                sql, user=user, params=body.get("params"), traceparent=traceparent
            )
        except StrakeError as e:
            return self._send(400, _error_body(e))
        except Exception as e:  # analysis errors etc.
            return self._send(400, _error_body(e, trunc=500))
        self._send(
            200,
            {
                "status": "success",
                "data": table.to_pylist(),
                "message": None,
                # per-query non-fatal warnings (reference QueryResponse
                # carries a warnings list, warnings.rs:19-40): cache
                # hits as "x-strake-cache: hit", drift as
                # STRAKE-2009..2011-coded lines
                "warnings": self.engine.last_warnings(),
            },
        )

    def _validate(self, body: dict) -> None:
        """Two validation modes, both reference behaviors:
        - {"sql": ...} — read-only gate + Catalyst analysis without
          execution (rejects non-SELECT / multi-statement / unknown
          columns) — the probe the driver e2e exercises;
        - {"sources_yaml": ...} — structural config validation
          (api.rs:64-88 parses SourcesConfig YAML)."""
        errors: list[str] = []
        if "sql" in body:
            try:
                self.engine.sql(body["sql"])
            except StrakeError as e:
                errors.append(str(e))
            except Exception as e:
                errors.append(str(e)[:500])
        elif "sources_yaml" in body:
            try:
                import yaml

                from strake_spark.config import parse_config

                parsed = yaml.safe_load(body["sources_yaml"]) or {}
                if not isinstance(parsed, dict):
                    errors.append("YAML Parsing Error: top level must be a mapping")
                else:
                    parse_config(parsed)
            except Exception as e:
                errors.append(f"YAML Parsing Error: {e}")
        else:
            errors.append("provide 'sql' or 'sources_yaml'")
        self._send(200, {"valid": not errors, "errors": errors})


class RestServer:
    """Bound-but-not-started HTTP server; ``serve()`` blocks,
    ``start()`` runs it on a daemon thread (tests), ``port`` is live
    after construction."""

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0,
                 token: str | None = None, validator=None, key_manager=None,
                 license_cache=None) -> None:
        self.httpd = ThreadingHTTPServer((host, port), _Handler)
        self.httpd.engine = engine  # type: ignore[attr-defined]
        self.httpd.token = token  # type: ignore[attr-defined]
        self.httpd.validator = validator  # type: ignore[attr-defined]
        self.httpd.key_manager = key_manager  # type: ignore[attr-defined]
        self.httpd.license_cache = license_cache  # type: ignore[attr-defined]
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def serve(self) -> None:  # pragma: no cover - manual entry point
        self.httpd.serve_forever()

    def start(self) -> "RestServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)


def make_rest_server(engine, host: str = "127.0.0.1", port: int = 0,
                     token: str | None = None, validator=None,
                     key_manager=None, license_cache=None) -> RestServer:
    """``key_manager`` (apikeys.ApiKeyStore) adds enterprise API-key
    auth: Bearer sk_... credentials verify against the store, carry the
    key's bound user as the RLS/masking principal, and are checked
    against per-verb scopes route-by-route (docs/enterprise.md:19-21).
    ``license_cache`` (license.LicenseCache, usually fed by
    license.start_license_monitor) gates the query endpoint when the
    license is INVALID (reference api.rs:237-244); omitted = open-core
    mode, no license checks."""
    return RestServer(engine, host=host, port=port, token=token,
                      validator=validator, key_manager=key_manager,
                      license_cache=license_cache)


def main(argv=None) -> None:  # pragma: no cover - manual entry point
    import argparse

    import strake_spark as ss

    p = argparse.ArgumentParser(prog="strake-spark-rest")
    p.add_argument("--config", default=None)
    p.add_argument("--host", default="0.0.0.0")
    p.add_argument("--port", type=int, default=8080)
    p.add_argument("--token", default=None)
    p.add_argument("--keys-db", default=None,
                   help="SQLite API-key store (enables sk_... auth; see `strake-spark keys`)")
    args = p.parse_args(argv)
    key_manager = None
    if args.keys_db:
        from strake_spark.apikeys import ApiKeyStore

        key_manager = ApiKeyStore(args.keys_db)
    engine = ss.connect(args.config)
    srv = make_rest_server(engine, host=args.host, port=args.port, token=args.token,
                           key_manager=key_manager)
    print(f"strake-spark REST API on port {srv.port}")
    srv.serve()


if __name__ == "__main__":  # pragma: no cover
    main()
