"""REST HTTP API façade + JWT auth end-to-end (reference
crates/server/src/api.rs routes, crates/server/src/auth.rs OIDC shape,
crates/connectors/src/sources/rest_auth.rs assertion claims)."""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request

import pytest

import strake_spark as ss
from strake_spark.jwtauth import (
    AuthError,
    OidcValidator,
    build_assertion,
    sign_hs256,
    verify_hs256,
)
from strake_spark.rest_api import make_rest_server
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def engine(spark):
    return ss.connect(
        {
            "sources": [
                {
                    "name": "t",
                    "type": "parquet",
                    "url": SF_DIR,
                    "tables": [{"name": "nation"}, {"name": "region"}],
                }
            ]
        },
        spark=spark,
    )


@pytest.fixture(scope="module")
def server(engine):
    srv = make_rest_server(engine).start()
    yield srv
    srv.stop()


def _req(port, path, payload=None, token=None, method=None):
    url = f"http://127.0.0.1:{port}{path}"
    data = json.dumps(payload).encode() if payload is not None else None
    req = urllib.request.Request(url, data=data, method=method or ("POST" if data else "GET"))
    req.add_header("Content-Type", "application/json")
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _jreq(port, path, payload=None, token=None):
    code, body = _req(port, path, payload, token)
    return code, json.loads(body)


class TestHealthPlane:
    def test_health_ready(self, server):
        assert _jreq(server.port, "/health")[1] == {"status": "ok"}
        assert _jreq(server.port, "/ready")[1] == {"status": "ready"}

    def test_metrics_prometheus_text(self, server):
        code, body = _req(server.port, "/metrics")
        assert code == 200
        assert b"strake_sources_registered 1" in body
        assert b"strake_cache_text_hits 0" in body  # exposed from zero
        assert b"# TYPE strake_cache_text_hits counter" in body
        # every sample value must be numeric (one bad sample fails the
        # whole scrape): breaker states are labeled 1-valued gauges
        assert b'strake_breaker_state{source="t",state="closed"} 1' in body.lower()
        # HELP/TYPE metadata per the exposition format
        assert b"# TYPE strake_queries_executed counter" in body
        assert b"# TYPE strake_sources_registered gauge" in body
        for line in body.decode().strip().splitlines():
            if line.startswith("#"):
                continue
            float(line.rsplit(" ", 1)[1])  # parseable value on every sample


class TestApi:
    def test_sources(self, server):
        code, body = _jreq(server.port, "/api/v1/sources")
        assert code == 200
        (src,) = body["sources"]
        assert src["name"] == "t" and set(src["tables"]) == {"t_nation", "t_region"}

    def test_query_governed(self, server):
        code, body = _jreq(
            server.port,
            "/api/v1/query",
            {"sql": "SELECT n_name FROM t_nation WHERE n_regionkey = 0 ORDER BY n_name"},
        )
        assert code == 200 and body["status"] == "success"
        names = [r["n_name"] for r in body["data"]]
        assert names == sorted(names) and len(names) == 5

    def test_query_rejects_non_select(self, server):
        code, body = _jreq(server.port, "/api/v1/query", {"sql": "DROP TABLE t_nation"})
        assert code == 400 and body["status"] == "error"

    def test_spans_surface_and_traceparent_propagation(self, server):
        """A query with a W3C traceparent header lands its span tree in
        /api/v1/spans under the caller's trace id."""
        tid = "ab" * 16
        url = f"http://127.0.0.1:{server.port}/api/v1/query"
        req = urllib.request.Request(
            url,
            data=json.dumps({"sql": "SELECT count(*) AS n FROM t_region"}).encode(),
            method="POST",
        )
        req.add_header("Content-Type", "application/json")
        req.add_header("traceparent", f"00-{tid}-{'cd' * 8}-01")
        with urllib.request.urlopen(req, timeout=60) as resp:
            assert resp.status == 200
        code, body = _jreq(server.port, "/api/v1/spans")
        assert code == 200
        roots = [s for s in body["data"] if s["name"] == "query.execute"]
        assert roots and roots[-1]["trace_id"] == tid
        assert roots[-1]["parent_span_id"] == "cd" * 8
        children = [s for s in body["data"]
                    if s["parent_span_id"] == roots[-1]["span_id"]]
        assert {c["name"] for c in children} >= {"query.plan"}

    def test_query_params_bound(self, server):
        code, body = _jreq(
            server.port,
            "/api/v1/query",
            {"sql": "SELECT n_name FROM t_nation WHERE n_nationkey = :k", "params": {"k": 3}},
        )
        assert code == 200 and len(body["data"]) == 1

    def test_validate_sql(self, server):
        assert _jreq(server.port, "/api/v1/validate", {"sql": "SELECT 1 AS one"})[1] == {
            "valid": True,
            "errors": [],
        }
        code, body = _jreq(server.port, "/api/v1/validate", {"sql": "DELETE FROM t_nation"})
        assert body["valid"] is False and body["errors"]

    def test_validate_yaml(self, server):
        ok = _jreq(
            server.port,
            "/api/v1/validate",
            {"sources_yaml": "sources:\n  - name: x\n    type: parquet\n"},
        )[1]
        assert ok["valid"] is True
        bad = _jreq(server.port, "/api/v1/validate", {"sources_yaml": "sources: ["})[1]
        assert bad["valid"] is False and "YAML" in bad["errors"][0]

    def test_introspect_matches_spark_schema(self, server, engine):
        code, body = _jreq(server.port, "/api/v1/introspect/t_nation")
        assert code == 200
        expect = [
            {"column": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
            for f in engine.spark.table("t_nation").schema.fields
        ]
        assert body["columns"] == expect

    def test_introspect_source_listing(self, server):
        code, body = _jreq(server.port, "/api/v1/introspect/default/t")
        assert code == 200
        assert {d["name"] for d in body} == {"t_nation", "t_region"}
        assert all(d["schema"] == "t" for d in body)

    def test_explain_returns_plan_tree(self, server):
        code, body = _jreq(
            server.port, "/api/v1/explain",
            {"sql": "SELECT n_name FROM t_nation WHERE n_regionkey = 0"},
        )
        assert code == 200
        assert "Scan" in body["data"]["plan"]
        # gated like every other surface
        code, _ = _jreq(server.port, "/api/v1/explain", {"sql": "DROP TABLE t_nation"})
        assert code == 400

    def test_introspect_tables_post(self, server, engine):
        """Config-shaped introspection: POST table names, get a
        SourcesConfig fragment with live column schemas."""
        code, body = _jreq(server.port, "/api/v1/introspect/default/t/tables", ["nation"])
        assert code == 200
        (src,) = body["sources"]
        (tbl,) = src["tables"]
        assert tbl["name"] == "nation"
        live = {f.name: f for f in engine.spark.table("t_nation").schema.fields}
        for c in tbl["columns"]:
            assert c["data_type"] == live[c["name"]].dataType.simpleString()
        # dict shape also accepted; unknown tables skipped
        code, body = _jreq(server.port, "/api/v1/introspect/default/t/tables",
                           {"tables": ["region", "nope"]})
        assert code == 200
        assert [t["name"] for t in body["sources"][0]["tables"]] == ["region"]

    def test_concurrent_queries(self, server):
        """ThreadingHTTPServer drives the engine from many threads at
        once — admission control and py4j must hold up."""
        import concurrent.futures as cf

        def one(k):
            return _jreq(
                server.port, "/api/v1/query",
                {"sql": "SELECT count(*) AS n FROM t_nation WHERE n_regionkey = :k",
                 "params": {"k": k % 5}},
            )

        with cf.ThreadPoolExecutor(max_workers=8) as ex:
            results = list(ex.map(one, range(16)))
        assert all(code == 200 and body["data"][0]["n"] == 5 for code, body in results)

    def test_unknown_routes_404(self, server):
        assert _req(server.port, "/api/v1/nope")[0] == 404
        assert _req(server.port, "/api/v1/introspect/no_such_view")[0] == 404


class TestStaticTokenAuth:
    def test_token_enforced(self, engine):
        srv = make_rest_server(engine, token="sekrit").start()
        try:
            assert _req(srv.port, "/api/v1/sources")[0] == 401
            assert _req(srv.port, "/api/v1/sources", token="wrong")[0] == 401
            assert _req(srv.port, "/api/v1/sources", token="sekrit")[0] == 200
            # health plane stays open
            assert _req(srv.port, "/health")[0] == 200
        finally:
            srv.stop()


class TestJwt:
    def test_sign_verify_roundtrip(self):
        tok = sign_hs256({"sub": "alice", "iss": "me", "aud": "you"}, "k1")
        claims = verify_hs256(tok, "k1", issuer="me", audience="you")
        assert claims["sub"] == "alice"

    def test_forged_signature_rejected(self):
        tok = sign_hs256({"sub": "alice"}, "k1")
        with pytest.raises(AuthError, match="signature"):
            verify_hs256(tok, "other-key")

    def test_expired_rejected(self):
        tok = sign_hs256({"exp": time.time() - 3600}, "k1")
        with pytest.raises(AuthError, match="expired"):
            verify_hs256(tok, "k1")

    def test_wrong_issuer_audience(self):
        tok = sign_hs256({"iss": "a", "aud": "b", "exp": time.time() + 60}, "k1")
        with pytest.raises(AuthError, match="issuer"):
            verify_hs256(tok, "k1", issuer="not-a")
        with pytest.raises(AuthError, match="audience"):
            verify_hs256(tok, "k1", issuer="a", audience="not-b")

    def test_alg_confusion_rejected(self):
        tok = sign_hs256({"sub": "x"}, "k1", headers={"alg": "none"})
        with pytest.raises(AuthError, match="alg"):
            verify_hs256(tok, "k1")

    def test_assertion_claim_shape(self):
        tok = build_assertion(
            "svc@example", "https://api", secret="k", subject="svc",
            claims={"scope": "read"}, expiry_secs=120, now=1_000_000,
        )
        claims = verify_hs256(tok, "k", now=1_000_000)
        assert claims == {
            "iss": "svc@example", "aud": "https://api", "iat": 1_000_000,
            "exp": 1_000_120, "sub": "svc", "scope": "read",
        }

    def test_rs256_roundtrips_unknown_alg_rejected(self):
        from strake_spark.jwtauth import verify_rs256
        from tests.test_jwtauth import JWKS, PEM8

        tok = build_assertion("i", "a", algorithm="RS256", private_key_pem=PEM8)
        assert verify_rs256(tok, JWKS, issuer="i", audience="a")["aud"] == "a"
        with pytest.raises(ValueError, match="unsupported"):
            build_assertion("i", "a", algorithm="PS256", private_key_pem="fake")


class TestOidcRest:
    def test_oidc_on_rest(self, engine):
        v = OidcValidator("topsecret", issuer="https://idp", audience="strake")
        srv = make_rest_server(engine, validator=v).start()
        try:
            good = sign_hs256(
                {"iss": "https://idp", "aud": "strake", "sub": "u1",
                 "exp": time.time() + 300},
                "topsecret",
            )
            forged = sign_hs256(
                {"iss": "https://idp", "aud": "strake", "sub": "u1",
                 "exp": time.time() + 300},
                "wrongkey",
            )
            wrong_aud = sign_hs256(
                {"iss": "https://idp", "aud": "other", "exp": time.time() + 300},
                "topsecret",
            )
            assert _req(srv.port, "/api/v1/sources")[0] == 401
            assert _req(srv.port, "/api/v1/sources", token=forged)[0] == 401
            assert _req(srv.port, "/api/v1/sources", token=wrong_aud)[0] == 401
            assert _req(srv.port, "/api/v1/sources", token=good)[0] == 200
            # body-supplied user must NOT override the authenticated sub
            # (impersonation would borrow another user's RLS profile)
            code, _ = _req(
                srv.port, "/api/v1/query",
                {"sql": "SELECT 1 AS one", "user": "somebody-else"}, token=good,
            )
            assert code == 200
            assert engine.query_log()[-1]["user"] == "u1"
        finally:
            srv.stop()


class TestOidcFlight:
    def test_oidc_on_flight(self, engine):
        fl = pytest.importorskip("pyarrow.flight")
        from strake_spark.server import make_server

        v = OidcValidator("fsecret", issuer="https://idp", audience="flight")
        srv = make_server(engine, validator=v)
        import threading

        t = threading.Thread(target=srv.serve, daemon=True)
        t.start()
        try:
            good = sign_hs256(
                {"iss": "https://idp", "aud": "flight", "exp": time.time() + 300},
                "fsecret",
            )
            forged = sign_hs256(
                {"iss": "https://idp", "aud": "flight", "exp": time.time() + 300},
                "badkey",
            )
            loc = f"grpc://127.0.0.1:{srv.port}"

            def fetch(tok):
                client = fl.connect(loc)
                opts = fl.FlightCallOptions(headers=[(b"authorization", f"Bearer {tok}".encode())])
                reader = client.do_get(fl.Ticket(b"catalog:tables"), options=opts)
                return reader.read_all()

            with pytest.raises(fl.FlightUnauthenticatedError):
                fetch(forged)
            tbl = fetch(good)
            assert tbl.num_rows >= 2
        finally:
            srv.shutdown()


class TestRestSourceJwtAuth:
    def test_jwt_assertion_header(self):
        from strake_spark.sources.rest import _Auth

        auth = _Auth(
            {
                "auth_type": "jwt",
                "jwt_key": "svc-secret",
                "jwt_issuer": "svc@proj",
                "jwt_audience": "https://api.example",
                "jwt_subject": "svc",
            }
        )
        hdrs = auth.headers()
        tok = hdrs["Authorization"].removeprefix("Bearer ")
        claims = verify_hs256(tok, "svc-secret", issuer="svc@proj", audience="https://api.example")
        assert claims["sub"] == "svc" and claims["exp"] > time.time()
        # cached until expiry
        assert auth.headers()["Authorization"] == hdrs["Authorization"]

    def test_rs256_assertion_implemented(self):
        """RS256 (the reference's default assertion algorithm,
        rest_auth.rs:207-261) signs with a private-key PEM — pure-integer
        RSASSA-PKCS1-v1_5, no crypto lib. ES256 stays deploy-gated."""
        from strake_spark.jwtauth import verify_rs256
        from strake_spark.sources.rest import _Auth
        from tests.test_jwtauth import JWKS, PEM1

        auth = _Auth({"auth_type": "jwt", "jwt_algorithm": "RS256",
                      "jwt_issuer": "i", "jwt_audience": "a",
                      "jwt_private_key_pem": PEM1})
        hdr = auth.headers()["Authorization"]
        assert hdr.startswith("Bearer ")
        claims = verify_rs256(hdr[len("Bearer "):], JWKS,
                              issuer="i", audience="a")
        assert claims["iss"] == "i"

    def test_es256_assertion_roundtrips(self):
        """ES256 assertions ride the cryptography package (present in
        this container); ES384/512 share the same path (test_jwtauth)."""
        pytest.importorskip("cryptography")
        from cryptography.hazmat.primitives import serialization
        from cryptography.hazmat.primitives.asymmetric import ec

        from strake_spark.jwtauth import verify_es256
        from strake_spark.sources.rest import _Auth
        from tests.test_jwtauth import _b64url_uint

        key = ec.generate_private_key(ec.SECP256R1())
        pem = key.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.PKCS8,
            serialization.NoEncryption(),
        ).decode()
        nums = key.public_key().public_numbers()
        jwks = {"keys": [{"kty": "EC", "crv": "P-256",
                          "x": _b64url_uint(nums.x), "y": _b64url_uint(nums.y)}]}
        auth = _Auth({"auth_type": "jwt", "jwt_algorithm": "ES256",
                      "jwt_issuer": "i", "jwt_audience": "a",
                      "jwt_private_key_pem": pem})
        hdr = auth.headers()["Authorization"]
        claims = verify_es256(hdr[len("Bearer "):], jwks, issuer="i", audience="a")
        assert claims["iss"] == "i"


class TestLineageEndpoint:
    def test_lineage_over_http(self, server):
        code, body = _jreq(
            server.port, "/api/v1/lineage",
            {"sql": "SELECT n_name AS nation FROM t_nation"},
        )
        assert code == 200
        assert body["data"]["outputs"]["nation"] == ["t_nation.n_name"]
        assert body["data"]["unresolved"] == []

    def test_lineage_gated(self, server):
        code, _ = _jreq(server.port, "/api/v1/lineage", {"sql": "DROP TABLE t_nation"})
        assert code == 400
        code, _ = _jreq(server.port, "/api/v1/lineage", {})
        assert code == 400


class TestContractsEndpoint:
    def test_validate_over_http(self, server):
        code, body = _jreq(server.port, "/api/v1/contracts/validate", {"check_data": False})
        assert code == 200
        assert body["data"]["valid"] is True  # test engine has no contracts


class TestGovernanceAuditEndpoints:
    def test_impact_over_http(self, server):
        code, body = _jreq(
            server.port, "/api/v1/impact",
            {"column": "t_nation.n_name",
             "queries": ["SELECT n_name AS x FROM t_nation",
                         "SELECT n_regionkey FROM t_nation"]},
        )
        assert code == 200
        assert len(body["data"]["impacted"]) == 1
        assert body["data"]["impacted"][0]["outputs"] == ["x"]

    def test_masking_audit_requires_user(self, server):
        code, _ = _jreq(server.port, "/api/v1/audit/masking",
                        {"sql": "SELECT n_name FROM t_nation"})
        assert code == 400  # no policies engine-side + no user -> reject

    def test_masking_audit_with_user(self, server):
        code, body = _jreq(server.port, "/api/v1/audit/masking",
                           {"sql": "SELECT n_name FROM t_nation", "user": "alice"})
        assert code == 200
        assert body["data"]["tainted"] == []  # no policies configured


class TestDriftSurface:
    """r15 (r14 verdict task 6): the engine's structured drift log
    (sources/drift.py, STRAKE-2009..2011 codes) is reachable by REST
    clients — read-only introspection, like the reference's drift
    warnings on the server facades."""

    def test_drift_records_roundtrip(self, server, engine):
        from pyspark.sql import types as T

        from strake_spark.sources.drift import clear_drift_log, reconcile

        clear_drift_log()
        src = engine.spark.createDataFrame(
            [(1, "a", 2.5)], "id int, extra string, amount double"
        )
        declared = T.StructType([
            T.StructField("id", T.LongType()),        # type change  -> 2010
            T.StructField("missing_col", T.StringType()),  # missing -> 2009
            T.StructField("amount", T.DoubleType()),
        ])                                            # 'extra' pruned -> 2011
        reconcile(src, declared, context="rest_drift_probe")

        status, body = _req(server.port, "/api/v1/drift")
        assert status == 200
        payload = json.loads(body)
        assert payload["status"] == "success"
        recs = [r for r in payload["data"] if r["table"] == "rest_drift_probe"]
        assert len(recs) == 1
        rec = recs[0]
        assert rec["codes"] == ["STRAKE-2009", "STRAKE-2010", "STRAKE-2011"]
        assert rec["missing_columns"] == ["missing_col"]
        assert rec["extra_columns"] == ["extra"]
        assert rec["type_mismatches"] == ["id: int -> bigint"]
        assert rec["expected_columns"] == ["id", "missing_col", "amount"]
        assert rec["actual_columns"] == ["id", "extra", "amount"]
