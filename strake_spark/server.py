"""Arrow Flight server façade — network clients for the engine.

Reference: crates/server/src/flight_sql.rs — Flight SQL service in
front of FederationEngine (get_flight_info_statement:244 returns a
ticket; do_get_statement:234 -> execute_and_stream:126-215 streams
batches), with API-key auth (auth.rs:24-66) and catalog introspection
(do_get_catalogs/schemas/tables, flight_sql.rs:321-531).

This façade keeps the same wire shape on the generic Flight RPCs
(pyarrow has no Flight SQL server helper):
- descriptor command = SQL text (or JSON ``{"sql", "user", "params"}``);
  get_flight_info prepares it (gate, policy, plan or text-key hit) under
  the request's principal, parks the prepared statement under a random
  nonce, and returns schema + a JSON ticket ``{"sql", "user", "params",
  "nonce"}``
- do_get(ticket) executes through the GOVERNED engine path (gate,
  limits, cost, timeout, cache, policies via the header-passed user),
  running the parked statement when the nonce is live and was parked for
  the same SQL, params and principal; otherwise (no nonce, expired,
  another principal, a raw-SQL ticket) it plans afresh — stateless
- do_get(ticket=b"catalog:tables") lists registered views (the
  introspection surface)
- do_action({list_sources, describe, explain_tree, ping}) proxies the
  engine's control-plane verbs as JSON — the surface the thin remote
  client (strake_spark.remote) drives; reference flight_sql.rs keeps
  catalog introspection on dedicated RPCs the same way (321-531)
- optional static bearer-token auth via middleware

Queries execute driver-side on the engine's SparkSession and stream out
as record batches; scale-out of the compute itself is Spark's job — the
server is a thin door, exactly like the reference's stateless replicas
(docs/architecture.md:74-92).
"""

from __future__ import annotations

import json
import logging
import secrets
import threading
import time
from collections import OrderedDict

from strake_spark.license import LicenseState as _LicenseState
from strake_spark.scrubber import scrub as _scrub

_audit_log = logging.getLogger("strake_spark.audit")

# prepared statements parked between get_flight_info and do_get
PARKED_MAX = 1024
PARKED_TTL_S = 60.0


class _Parked:
    """Prepared statements keyed by a random nonce, for the do_get that
    follows a get_flight_info. Bounded (oldest dropped first) and
    expiring; an entry is taken at most once. It holds the plan (or the
    plan key of a text hit), never result data."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._entries: OrderedDict[str, tuple[float, object]] = OrderedDict()

    def park(self, prepared) -> str:
        nonce = secrets.token_urlsafe(16)
        now = time.monotonic()
        with self._lock:
            # insertion order is expiry order: drop the expired from the front
            while self._entries and next(iter(self._entries.values()))[0] < now:
                self._entries.popitem(last=False)
            self._entries[nonce] = (now + PARKED_TTL_S, prepared)
            while len(self._entries) > PARKED_MAX:
                self._entries.popitem(last=False)
        return nonce

    def take(self, nonce):
        with self._lock:
            entry = self._entries.pop(nonce, None)
        if entry is None or entry[0] < time.monotonic():
            return None
        return entry[1]


def make_server(
    engine,
    location: str = "grpc://127.0.0.1:0",
    token: str | None = None,
    validator=None,
    tls_cert: str | None = None,
    tls_key: str | None = None,
    key_manager=None,
    license_cache=None,
):
    """Build (not start) a Flight server bound to ``location``.
    Returns the server object; ``server.port`` gives the bound port.

    Auth is either a static bearer ``token`` (reference auth.rs:24-66
    API-key path) or an OIDC-style ``validator``
    (strake_spark.jwtauth.OidcValidator — issuer/audience/exp checks,
    reference auth.rs:154-215 shape); ``validator`` wins when both are
    given.

    ``tls_cert``/``tls_key`` (PEM file paths) serve TLS — clients then
    connect with ``grpcs://`` / ``grpc+tls://`` URLs (the reference's
    encrypted DSN scheme, python/src/connection.rs:312). The location
    scheme is upgraded automatically when certs are given.

    ``key_manager`` (strake_spark.apikeys.ApiKeyStore) enables
    enterprise API keys (docs/enterprise.md:19-21): a Bearer ``sk_...``
    credential authenticates against the store, the key's bound user
    becomes the governance principal (like a validated OIDC sub), and
    each RPC checks the key's verb scopes. Composes with ``token`` /
    ``validator`` — non-``sk_`` credentials fall through to those.

    ``license_cache`` (license.LicenseCache) gates query execution the
    way the reference's Flight facade does (flight_sql.rs:129-144):
    INVALID rejects with permission-denied, DEGRADED logs a warning and
    proceeds. Omitted = open-core mode."""
    import pyarrow as pa
    import pyarrow.flight as fl

    from strake_spark.errors import StrakeError

    def _governed(fn):
        """Run an engine verb; re-raise governed failures with the
        structured STRAKE_ERR:<Type>:<STRAKE-NNNN>: marker so the thin
        client (remote._translate) can classify by prefix instead of
        substring-matching class names anywhere in the message (r8
        advice — a query whose SQL text contained 'QueryRejected' was
        re-classified and its detail garbled). The STRAKE-NNNN segment
        is the stable error code (reference code.rs contract), so the
        client re-raises with the exact server-side classification —
        not just the class default."""
        try:
            return fn()
        except StrakeError as e:
            raise fl.FlightServerError(
                f"STRAKE_ERR:{type(e).__name__}:{e.code.as_str()}:{e}"
            ) from e

    tls_pairs = []
    if tls_cert is not None:
        if tls_key is None:
            raise ValueError("tls_cert requires tls_key")
        with open(tls_cert, "rb") as f:
            cert_bytes = f.read()
        with open(tls_key, "rb") as f:
            key_bytes = f.read()
        tls_pairs = [fl.CertKeyPair(cert=cert_bytes, key=key_bytes)]
        if location.startswith("grpc://"):
            location = "grpc+tls://" + location[len("grpc://"):]

    class _AuthContext(fl.ServerMiddleware):
        """Carries the VALIDATED token claims into call handlers
        (context.get_middleware), so the governance principal comes from
        the cryptographically-verified token, never from client-supplied
        request bodies."""

        def __init__(self, claims: dict):
            self.claims = claims

    class _TokenMiddleware(fl.ServerMiddlewareFactory):
        def start_call(self, info, headers):
            vals = headers.get("authorization") or headers.get(b"authorization") or []
            tok = vals[0] if vals else ""
            if isinstance(tok, bytes):
                tok = tok.decode()
            bare = tok[len("Bearer "):] if tok.startswith("Bearer ") else tok
            if key_manager is not None and bare.startswith("sk_"):
                from strake_spark.apikeys import ApiKeyError

                try:
                    ki = key_manager.verify(bare)
                except ApiKeyError as e:
                    raise fl.FlightUnauthenticatedError(str(e)) from None
                return _AuthContext(
                    {"sub": ki.user, "_scopes": sorted(ki.scopes), "_key_id": ki.key_id}
                )
            if key_manager is not None and token is None and validator is None:
                raise fl.FlightUnauthenticatedError("API key required (sk_...)")
            if validator is not None:
                from strake_spark.jwtauth import AuthError

                try:
                    claims = validator.validate(tok)
                except AuthError as e:
                    raise fl.FlightUnauthenticatedError(str(e)) from None
                return _AuthContext(claims or {})
            import hmac as _hmac

            if not _hmac.compare_digest(tok, f"Bearer {token}"):
                raise fl.FlightUnauthenticatedError("invalid token")
            return _AuthContext({})

    def _principal(context, claimed: str | None) -> str | None:
        """The governance principal: a validated OIDC `sub` ALWAYS
        overrides the client-supplied `user` — otherwise any
        authenticated token holder could claim another user's
        RLS/masking profile in the ticket JSON (rest_api._query applies
        the same rule)."""
        try:
            mw = context.get_middleware("auth")
        except Exception:
            mw = None
        claims = getattr(mw, "claims", None) or {}
        return claims.get("sub") or claimed

    def _scope_check(context, verb: str) -> None:
        """Enforce the API key's verb scopes (no-op for static-token
        and OIDC principals, which are not scope-limited)."""
        try:
            mw = context.get_middleware("auth")
        except Exception:
            mw = None
        scopes = (getattr(mw, "claims", None) or {}).get("_scopes")
        if scopes is not None:
            from strake_spark.apikeys import scope_allows

            if not scope_allows(scopes, verb):
                raise fl.FlightUnauthorizedError(
                    f"API key lacks scope {verb!r} (granted: {','.join(sorted(scopes))})"
                )

    class StrakeFlightServer(fl.FlightServerBase):
        def __init__(self):
            middleware = {}
            if token or validator is not None or key_manager is not None:
                middleware["auth"] = _TokenMiddleware()
            super().__init__(
                location, middleware=middleware, tls_certificates=tls_pairs or None
            )
            self.engine = engine
            self._parked = _Parked()

        def _prepare_ticket(self, context, sql, claimed, params):
            """Prepare ``sql`` under the request's principal and park it.
            Returns the schema do_get will stream and the JSON ticket."""
            user = _principal(context, claimed)
            prep = _governed(lambda: self.engine.prepare(sql, user=user, params=params))
            ticket = json.dumps({
                "sql": sql, "user": claimed, "params": params,
                "nonce": self._parked.park(prep),
            }).encode()
            return prep.arrow_schema(), ticket

        # -------------------------------------------------- introspection
        def _tables_batch(self) -> pa.Table:
            rows = []
            for source, views in self.engine.list_sources().items():
                for v in views:
                    rows.append({"source": source, "table": v})
            return pa.Table.from_pylist(rows or [{"source": "", "table": ""}])

        # -------------------------------------------------- Flight SQL
        # Standard Any-wrapped protobuf commands (reference
        # flight_sql.rs — the surface ADBC/JDBC Flight SQL drivers
        # speak), dispatched ahead of the legacy raw-SQL scheme so one
        # endpoint serves both client generations.
        CATALOG = "strake_spark"

        def _fsql_info(self, context, descriptor, cmd) -> "fl.FlightInfo":
            import strake_spark.flightsql as fsql

            if isinstance(cmd, (fsql.StatementQuery, fsql.PreparedStatementQuery)):
                sql = (cmd.query if isinstance(cmd, fsql.StatementQuery)
                       else cmd.prepared_statement_handle.decode())
                schema, handle = self._prepare_ticket(context, sql, None, None)
                ticket = fsql.pack_command(fsql.TicketStatement(statement_handle=handle))
            elif isinstance(cmd, fsql.GetCatalogs):
                schema, ticket = fsql.catalogs_schema(), fsql.pack_command(cmd)
            elif isinstance(cmd, fsql.GetDbSchemas):
                schema, ticket = fsql.db_schemas_schema(), fsql.pack_command(cmd)
            elif isinstance(cmd, fsql.GetTables):
                schema = fsql.tables_schema(cmd.include_schema)
                ticket = fsql.pack_command(cmd)
            elif isinstance(cmd, fsql.GetSqlInfo):
                schema, ticket = fsql.sql_info_schema(), fsql.pack_command(cmd)
            elif isinstance(cmd, fsql.GetXdbcTypeInfo):
                schema = fsql.xdbc_type_info_schema()
                ticket = fsql.pack_command(cmd)
            elif isinstance(cmd, fsql.GetTableTypes):
                schema = fsql.table_types_schema()
                ticket = fsql.pack_command(cmd)
            elif isinstance(cmd, fsql.GetPrimaryKeys):
                schema = fsql.primary_keys_schema()
                ticket = fsql.pack_command(cmd)
            elif isinstance(
                cmd,
                (fsql.GetExportedKeys, fsql.GetImportedKeys, fsql.GetCrossReference),
            ):
                schema = fsql.foreign_keys_schema()
                ticket = fsql.pack_command(cmd)
            else:
                raise fl.FlightServerError(
                    f"unsupported Flight SQL command {type(cmd).__name__}"
                )
            endpoint = fl.FlightEndpoint(ticket, [])
            return fl.FlightInfo(schema, descriptor, [endpoint], -1, -1)

        def _fsql_catalog_table(self, cmd) -> "pa.Table":
            import strake_spark.flightsql as fsql

            sources = self.engine.list_sources()
            if isinstance(cmd, fsql.GetCatalogs):
                return pa.table(
                    {"catalog_name": [self.CATALOG]},
                    schema=fsql.catalogs_schema(),
                )
            if isinstance(cmd, fsql.GetDbSchemas):
                names = [
                    s for s in sorted(sources)
                    if (cmd.catalog in (None, self.CATALOG))
                    and fsql.like_match(cmd.db_schema_filter_pattern, s)
                ]
                return pa.table(
                    {"catalog_name": [self.CATALOG] * len(names),
                     "db_schema_name": names},
                    schema=fsql.db_schemas_schema(),
                )
            if isinstance(cmd, fsql.GetTables):
                rows = []
                for source, views in sorted(sources.items()):
                    if cmd.catalog not in (None, self.CATALOG):
                        continue
                    if not fsql.like_match(cmd.db_schema_filter_pattern, source):
                        continue
                    for v in sorted(views):
                        if not fsql.like_match(cmd.table_name_filter_pattern, v):
                            continue
                        if cmd.table_types and "VIEW" not in cmd.table_types:
                            continue
                        rows.append((source, v))
                cols = {
                    "catalog_name": [self.CATALOG] * len(rows),
                    "db_schema_name": [r[0] for r in rows],
                    "table_name": [r[1] for r in rows],
                    "table_type": ["VIEW"] * len(rows),
                }
                if cmd.include_schema:
                    from pyspark.sql.pandas.types import to_arrow_schema

                    cols["table_schema"] = [
                        to_arrow_schema(
                            self.engine.spark.table(v).schema
                        ).serialize().to_pybytes()
                        for _, v in rows
                    ]
                return pa.table(
                    cols, schema=fsql.tables_schema(cmd.include_schema)
                )
            if isinstance(cmd, fsql.GetSqlInfo):
                return fsql.sql_info_table(cmd.info)
            if isinstance(cmd, fsql.GetXdbcTypeInfo):
                return fsql.xdbc_type_info_table(cmd.data_type)
            if isinstance(cmd, fsql.GetTableTypes):
                # everything this server registers is a temp view
                return pa.table(
                    {"table_type": ["VIEW"]}, schema=fsql.table_types_schema()
                )
            if isinstance(cmd, fsql.GetPrimaryKeys):
                # read-only federation over views: no key metadata —
                # spec-fixed schema, zero rows (the contract JDBC/ADBC
                # drivers expect from keyless backends)
                return fsql.primary_keys_schema().empty_table()
            if isinstance(
                cmd,
                (fsql.GetExportedKeys, fsql.GetImportedKeys, fsql.GetCrossReference),
            ):
                return fsql.foreign_keys_schema().empty_table()
            raise fl.FlightServerError(
                f"unsupported Flight SQL ticket {type(cmd).__name__}"
            )

        # ------------------------------------------------------- planning
        def get_flight_info(self, context, descriptor):
            import strake_spark.flightsql as fsql

            cmd = fsql.unpack_command(descriptor.command)
            if cmd is not None:
                _scope_check(
                    context,
                    "sql" if isinstance(
                        cmd, (fsql.StatementQuery, fsql.PreparedStatementQuery)
                    ) else "describe",
                )
                return self._fsql_info(context, descriptor, cmd)
            _scope_check(context, "sql")
            sql = descriptor.command.decode()
            user = params = None
            if sql.startswith("{"):
                req = json.loads(sql)
                sql, user, params = req["sql"], req.get("user"), req.get("params")
            # gate + plan (or a text hit); no execution yet
            schema, ticket = self._prepare_ticket(context, sql, user, params)
            return fl.FlightInfo(schema, descriptor, [fl.FlightEndpoint(ticket, [])], -1, -1)

        # ------------------------------------------------------ execution
        def do_get(self, context, ticket):
            t = ticket.ticket
            if t == b"catalog:tables":
                _scope_check(context, "list_sources")
                return fl.RecordBatchStream(self._tables_batch())
            import strake_spark.flightsql as fsql

            cmd = fsql.unpack_command(t)
            if cmd is not None:
                if isinstance(cmd, fsql.TicketStatement):
                    _scope_check(context, "execute")
                    payload = cmd.statement_handle.decode()
                elif isinstance(cmd, fsql.PreparedStatementQuery):
                    _scope_check(context, "execute")
                    payload = cmd.prepared_statement_handle.decode()
                else:
                    _scope_check(context, "describe")
                    return fl.RecordBatchStream(
                        _governed(lambda: self._fsql_catalog_table(cmd))
                    )
                # fall through to the governed execute path below
            else:
                _scope_check(context, "execute")
                payload = t.decode()
            user = params = nonce = None
            if payload.startswith("{"):
                # Prepared-statement shape (reference flight_sql.rs:533-600):
                # named :params bind in Spark's parser, never by string
                # interpolation, so values cannot inject syntax.
                req = json.loads(payload)
                payload, user = req["sql"], req.get("user")
                params, nonce = req.get("params"), req.get("nonce")
            user = _principal(context, user)
            # the statement get_flight_info prepared; execute() re-plans
            # when it was prepared for other SQL, params or principal
            prepared = self._parked.take(nonce) if isinstance(nonce, str) else None
            # License check before execution (flight_sql.rs:129-144):
            # INVALID -> permission denied; DEGRADED -> warn + proceed
            if license_cache is not None:
                state = license_cache.current_state()
                if state is _LicenseState.INVALID:
                    raise fl.FlightUnauthorizedError(
                        "License invalid or expired. Please contact support."
                    )
                if state is _LicenseState.DEGRADED:
                    _audit_log.warning("Executing query in degraded license state")
            # Audit stream with SCRUBBED SQL (flight_sql.rs:149-208 +
            # common/scrubber.rs): start/success/failed events carry the
            # scrubbed statement, never raw literals
            scrubbed = _scrub(payload)
            _audit_log.info(
                "query_start user_id=%s sql=%s", user or "", scrubbed
            )
            start = time.perf_counter()
            try:
                table = _governed(
                    lambda: self.engine.execute(
                        payload, user=user, params=params, prepared=prepared
                    )
                )
            except Exception as e:
                _audit_log.info(
                    "query_failed user_id=%s sql=%s error=%s duration_ms=%d",
                    user or "", scrubbed, str(e)[:200],
                    int((time.perf_counter() - start) * 1000),
                )
                raise
            _audit_log.info(
                "query_success user_id=%s sql=%s duration_ms=%d rows_returned=%d",
                user or "", scrubbed,
                int((time.perf_counter() - start) * 1000), table.num_rows,
            )
            # per-query warnings ride the stream as schema metadata
            # (reference flight clients read them from gRPC metadata,
            # federation.rs:385-413; pyarrow's RecordBatchStream has no
            # per-stream app_metadata hook, and schema metadata is the
            # in-band Arrow-native equivalent a generic client can read)
            warnings = self.engine.last_warnings()
            if warnings:
                md = dict(table.schema.metadata or {})
                md[b"strake.warnings"] = json.dumps(warnings).encode()
                table = table.replace_schema_metadata(md)
            return fl.RecordBatchStream(table)

        # ------------------------------------------------------- writes
        def do_put(self, context, descriptor, reader, writer):
            # Read-only by design (reference README "Read-Only by
            # Default"; flight_sql.rs:576 leaves the update path a
            # stub): Flight SQL CommandStatementUpdate /
            # CommandPreparedStatementUpdate and any other ingest land
            # here — reject with the governance message instead of the
            # base class's generic NotImplementedError
            raise fl.FlightServerError(
                "STRAKE_ERR:QueryRejected:STRAKE-2001:engine is read-only; "
                "DML/ingest over Flight is not supported"
            )

        # ---------------------------------------------------- control plane
        def list_actions(self, context):
            return [
                ("list_sources", "registered views per source (JSON)"),
                ("describe", "column schema of a view; body = view name (JSON)"),
                ("explain_tree", "plan tree with pushdown markers; body = SQL (JSON)"),
                ("trace", "plan + stats report; body = SQL (JSON)"),
                ("drift_report", "structured schema-drift audit records (JSON)"),
                ("ping", "liveness + engine identity (JSON)"),
                ("CreatePreparedStatement",
                 "Flight SQL prepared statement (Any-wrapped protobuf)"),
                ("ClosePreparedStatement", "Flight SQL handle release (no-op)"),
            ]

        def do_action(self, context, action):
            # Flight SQL prepared-statement actions (flight_sql.rs
            # :533-600 shape): the handle IS the query text — stateless,
            # so any replica can serve the subsequent do_get.
            if action.type == "CreatePreparedStatement":
                import strake_spark.flightsql as fsql
                from pyspark.sql.pandas.types import to_arrow_schema

                _scope_check(context, "sql")
                req = fsql.unpack_command(action.body.to_pybytes())
                if not isinstance(req, fsql.CreatePreparedStatementRequest):
                    raise fl.FlightServerError(
                        "CreatePreparedStatement body must be an Any-wrapped "
                        "ActionCreatePreparedStatementRequest"
                    )
                user = _principal(context, None)
                df = _governed(lambda: self.engine.sql(req.query, user=user))
                result = fsql.CreatePreparedStatementResult(
                    prepared_statement_handle=req.query.encode(),
                    dataset_schema=to_arrow_schema(df.schema)
                    .serialize().to_pybytes(),
                )
                return [fsql.any_pack(result.SHORT, result.encode())]
            if action.type == "ClosePreparedStatement":
                return []  # stateless handles: nothing to release
            body = action.body.to_pybytes().decode() if action.body else ""
            if action.type in ("list_sources", "describe", "explain_tree",
                               "trace", "drift_report", "ping"):
                # drift_report is read-only introspection -> describe scope
                _scope_check(
                    context,
                    "describe" if action.type == "drift_report" else action.type,
                )
            if action.type == "list_sources":
                out = _governed(self.engine.list_sources)
            elif action.type == "describe":
                out = _governed(lambda: self.engine.describe(body or None))
            elif action.type == "explain_tree":
                out = {"tree": _governed(lambda: self.engine.explain_tree(body))}
            elif action.type == "trace":
                out = _governed(lambda: self.engine.trace(body))
            elif action.type == "drift_report":
                out = {"drift": _governed(self.engine.drift_report)}
            elif action.type == "ping":
                out = {"ok": True, "engine": "strake-spark"}
            else:
                raise fl.FlightServerError(f"unknown action '{action.type}'")
            return [json.dumps(out).encode()]

    return StrakeFlightServer()


def main(argv=None) -> None:  # pragma: no cover - manual entry point
    import argparse
    import threading

    import strake_spark as ss

    p = argparse.ArgumentParser(prog="strake-spark-server")
    p.add_argument("--config", default=None)
    p.add_argument("--port", type=int, default=8815)
    p.add_argument("--token", default=None)
    p.add_argument("--oidc-secret", default=None,
                   help="HS256 shared secret for OIDC-style bearer validation")
    p.add_argument("--oidc-jwks", default=None,
                   help="path to a JWKS JSON file (RS256) for bearer validation")
    p.add_argument("--oidc-issuer", default="")
    p.add_argument("--oidc-audience", default="")
    p.add_argument("--oidc-discovery", default=None,
                   help="IdP issuer URL; keys and issuer come from its "
                        "/.well-known/openid-configuration (Azure AD / Okta / "
                        "Auth0 / Keycloak), with JWKS refetch on rotation")
    p.add_argument("--tls-cert", default=None, help="PEM cert to serve TLS (grpcs)")
    p.add_argument("--tls-key", default=None, help="PEM key for --tls-cert")
    p.add_argument("--keys-db", default=None,
                   help="SQLite API-key store (enables sk_... auth; see `strake-spark keys`)")
    args = p.parse_args(argv)
    key_manager = None
    if args.keys_db:
        from strake_spark.apikeys import ApiKeyStore

        key_manager = ApiKeyStore(args.keys_db)
    validator = None
    if args.oidc_discovery:
        from strake_spark.jwtauth import OidcValidator

        validator = OidcValidator.from_discovery(
            args.oidc_discovery, audience=args.oidc_audience
        )
    elif args.oidc_secret or args.oidc_jwks:
        import json as _json

        from strake_spark.jwtauth import OidcValidator

        jwks = None
        if args.oidc_jwks:
            with open(args.oidc_jwks) as f:
                jwks = _json.load(f)
        validator = OidcValidator(
            secret=args.oidc_secret, jwks=jwks,
            issuer=args.oidc_issuer, audience=args.oidc_audience,
        )
    engine = ss.connect(args.config)
    srv = make_server(engine, f"grpc://0.0.0.0:{args.port}",
                      token=args.token, validator=validator,
                      tls_cert=args.tls_cert, tls_key=args.tls_key,
                      key_manager=key_manager)
    print(f"strake-spark flight server on port {srv.port}")
    t = threading.Thread(target=srv.serve)
    t.start()
    t.join()


if __name__ == "__main__":  # pragma: no cover
    main()
