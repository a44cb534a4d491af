"""Plan-once Flight path and the result cache's text-key index.

- ``StrakeEngine.prepare`` resolves a repeated statement through a
  confirmed text key without Catalyst; unconfirmable plans (``rand()``,
  ``now()``), other users, other limits and catalog changes never share
  a text hit;
- the Flight server plans each statement once (get_flight_info parks
  the prepared statement under a nonce that do_get redeems) and
  re-plans when the nonce is missing, expired or parked for another
  principal;
- pushed statements that differ only in a literal get different plan
  keys;
- per-statement planning state is per thread;
- each statement reads the cache once and fingerprints its plan at
  most once.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import threading
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.flight as fl
import pyarrow.parquet as pq
import pytest

import strake_spark as ss
from strake_spark import server as server_mod
from strake_spark.cache import plan_fingerprint, text_key
from strake_spark.config import QueryLimits
from strake_spark.server import make_server
from tests.conftest import REPO_ROOT, SF_DIR

NATION_Q = "SELECT n_name FROM tc_nation WHERE n_regionkey = 1 ORDER BY n_name"


def _engine(spark, tmp_path, **extra):
    cfg = {
        "sources": [{"name": "tc", "type": "parquet", "url": SF_DIR,
                     "tables": [{"name": "nation"}]}],
        "cache": {"enabled": True, "directory": str(tmp_path / "cache")},
        "policies": {
            "roles": {"r0": {"tables": {"tc_nation": {"rls_filter": "n_regionkey = 1"}}}},
            "users": {"pat": ["r0"]},
        },
    }
    cfg.update(extra)
    return ss.connect(cfg, spark=spark)


def _text_hit(eng, query, user=None) -> bool:
    before = eng.metrics()["cache_text_hits"]
    eng.execute(query, user=user)
    return eng.metrics()["cache_text_hits"] == before + 1


class TestTextKey:
    def test_third_repeat_is_a_text_hit(self, spark, tmp_path):
        eng = _engine(spark, tmp_path)
        expected = [r.n_name for r in spark.sql(NATION_Q).collect()]
        assert eng.metrics()["cache_text_hits"] == 0  # counter exists from zero
        first = eng.execute(NATION_Q)  # planned, put
        planned = eng.metrics()["queries_planned"]
        assert not _text_hit(eng, NATION_Q)  # planned again: confirms the key
        assert eng.metrics()["queries_planned"] == planned + 1
        assert _text_hit(eng, NATION_Q)
        assert eng.metrics()["queries_planned"] == planned + 1  # no Catalyst
        assert eng.last_warnings() == ["x-strake-cache: hit"]
        third = eng.execute(NATION_Q)
        assert first.column("n_name").to_pylist() == expected
        assert third.equals(first)

    @pytest.mark.parametrize("query", [
        "SELECT n_name, rand() AS r FROM tc_nation ORDER BY n_name LIMIT 3",
        "SELECT n_name, now() AS t FROM tc_nation ORDER BY n_name LIMIT 3",
    ])
    def test_rand_and_now_never_take_the_text_path(self, spark, tmp_path, query):
        eng = _engine(spark, tmp_path)
        assert not any(_text_hit(eng, query) for _ in range(4))

    def test_reregistering_a_source_invalidates_text_keys_across_engines(
        self, spark, tmp_path
    ):
        a = _engine(spark, tmp_path)
        for _ in range(2):
            a.execute(NATION_Q)
        assert _text_hit(a, NATION_Q)
        # a second engine on the same session registers a source
        _engine(spark, tmp_path / "b")
        assert not _text_hit(a, NATION_Q)
        a.execute(NATION_Q)
        assert _text_hit(a, NATION_Q)  # confirmed again under the new epoch
        a.register_function("tc_twice", lambda s: s * 2)
        assert not _text_hit(a, NATION_Q)

    def test_two_users_never_share_a_text_key(self, spark, tmp_path):
        eng = _engine(spark, tmp_path)
        q = "SELECT count(*) AS n FROM tc_nation"
        for _ in range(2):
            eng.execute(q, user="amy")
        assert _text_hit(eng, q, user="amy")
        assert not _text_hit(eng, q, user="bob")
        # the policy principal gets its own rows, never amy's cached ones
        assert eng.execute(q, user="pat").to_pylist() == [{"n": 5}]
        assert eng.execute(q, user="amy").to_pylist() == [{"n": 25}]
        args = (q, None, 1, QueryLimits(), "UTC|2026-01-01")
        assert text_key(q, None, "amy", *args[2:]) != text_key(q, None, "bob", *args[2:])

    def test_query_limits_change_the_key(self, spark, tmp_path):
        eng = _engine(spark, tmp_path)
        for _ in range(2):
            eng.execute(NATION_Q)
        assert _text_hit(eng, NATION_Q)
        eng.config.query_limits.default_limit = 7
        assert not _text_hit(eng, NATION_Q)
        assert text_key("q", None, None, 1, QueryLimits(), "d") != text_key(
            "q", None, None, 1, QueryLimits(default_limit=7), "d"
        )

    def test_expired_file_is_planned_again(self, spark, tmp_path):
        eng = _engine(spark, tmp_path)
        for _ in range(2):
            eng.execute(NATION_Q)
        for name in os.listdir(tmp_path / "cache"):
            os.unlink(tmp_path / "cache" / name)
        planned = eng.metrics()["queries_planned"]
        out = eng.execute(NATION_Q)
        assert eng.metrics()["queries_planned"] == planned + 1
        assert out.num_rows == 5
        assert eng.last_warnings() == []  # a miss, run and put again

    def test_statements_over_other_tables_are_not_eligible(self, spark, tmp_path):
        eng = _engine(spark, tmp_path)
        spark.range(3).createOrReplaceTempView("tc_foreign")
        q = "SELECT count(*) AS n FROM tc_foreign"
        assert not any(_text_hit(eng, q) for _ in range(3))
        prep = eng.prepare(NATION_Q)
        assert prep.text_key is not None
        assert eng.prepare(q).text_key is None


    def test_session_zone_date_is_in_the_key(self, spark, tmp_path):
        eng = _engine(spark, tmp_path)
        utc = eng.prepare(NATION_Q).text_key
        try:
            spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
            assert eng.prepare(NATION_Q).text_key not in (None, utc)
            # a fixed offset has no zoneinfo name: no date, no text path
            spark.conf.set("spark.sql.session.timeZone", "+08:00")
            assert eng.prepare(NATION_Q).text_key is None
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")


class TestOneProbePerStatement:
    def test_one_cache_read_and_one_fingerprint_per_statement(
        self, spark, tmp_path, monkeypatch
    ):
        from collections import Counter

        from strake_spark import cache as cache_mod

        eng = _engine(spark, tmp_path)
        calls: Counter = Counter()
        real_get, real_fp = cache_mod.ResultCache.get, cache_mod.plan_fingerprint

        def get(self, *a, **kw):
            calls["get"] += 1
            return real_get(self, *a, **kw)

        def fingerprint(*a, **kw):
            calls["fingerprint"] += 1
            return real_fp(*a, **kw)

        monkeypatch.setattr(cache_mod.ResultCache, "get", get)
        monkeypatch.setattr(cache_mod, "plan_fingerprint", fingerprint)

        def probes(query=NATION_Q, **kw):
            calls.clear()
            eng.execute(query, **kw)
            hit = eng.last_warnings() == ["x-strake-cache: hit"]
            return hit, calls["get"], calls["fingerprint"]

        assert probes() == (False, 1, 1)  # miss: the probe's key is the put's
        assert probes() == (True, 1, 1)  # plan-key hit
        assert probes() == (True, 1, 0)  # text hit: no plan, no fingerprint
        for name in os.listdir(tmp_path / "cache"):
            os.unlink(tmp_path / "cache" / name)
        assert probes() == (False, 1, 1)  # the text hit's file is gone: planned
        other = NATION_Q.replace("ORDER", " ORDER")
        assert probes(other, prepared=eng.prepare(other)) == (True, 1, 1)


@pytest.fixture(scope="module")
def remote_db(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pushed") / "r.duckdb")
    con = duckdb.connect(path)
    con.execute(f"CREATE TABLE orders AS SELECT * FROM read_parquet('{SF_DIR}/orders.parquet')")
    con.close()
    return path


class TestPushedFingerprint:
    def test_pushed_statements_differing_in_a_literal_get_different_keys(
        self, spark, tmp_path, remote_db
    ):
        eng = ss.connect(
            {"sources": [{"name": "pf", "type": "duckdb", "url": remote_db}],
             "cache": {"enabled": True, "directory": str(tmp_path / "cache")}},
            spark=spark,
        )
        q = "SELECT count(*) AS n FROM pf_orders WHERE o_custkey = {}"
        a, b = eng.sql(q.format(1)), eng.sql(q.format(2))
        assert eng._last_pushdown is not None  # pushed whole
        assert plan_fingerprint(a, "u") != plan_fingerprint(b, "u")
        assert plan_fingerprint(a, "u") == plan_fingerprint(eng.sql(q.format(1)), "u")
        con = duckdb.connect(remote_db, read_only=True)
        for k in (1, 2, 1, 2):
            (n,) = con.execute(
                f"SELECT count(*) FROM orders WHERE o_custkey = {k}"
            ).fetchone()
            assert eng.execute(q.format(k)).to_pylist() == [{"n": n}]
        con.close()


class TestPlanStateIsPerThread:
    def test_plan_spans_describe_their_own_statement(self, spark, remote_db):
        eng = ss.connect(
            {"sources": [
                {"name": "pt", "type": "duckdb", "url": remote_db},
                {"name": "pl", "type": "parquet", "url": SF_DIR,
                 "tables": [{"name": "nation"}]},
            ]},
            spark=spark,
        )
        stmts = {
            "pt": "SELECT count(*) AS n FROM pt_orders WHERE o_custkey < 50",
            "pl": "SELECT count(*) AS n FROM pl_nation WHERE n_regionkey < 3",
        }
        barrier = threading.Barrier(2)
        errors: list[Exception] = []

        def client(source):
            try:
                barrier.wait()
                for _ in range(6):
                    eng.execute(stmts[source])
            except Exception as e:  # pragma: no cover - surfaced below
                errors.append(e)

        threads = [threading.Thread(target=client, args=(s,)) for s in stmts]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
        assert not any(t.is_alive() for t in threads)
        assert not errors
        spans = eng.spans()
        roots = {s["span_id"]: s for s in spans if s["name"] == "query.execute"}
        plans = [s for s in spans if s["name"] == "query.plan"
                 and s["parent_span_id"] in roots]
        assert len(plans) == 12
        for p in plans:
            source = roots[p["parent_span_id"]]["attributes"]["strake.sources"]
            pushed = p["attributes"]["strake.pushdown"]
            assert pushed == (source == "pt"), (source, p["attributes"])
            summary = p["attributes"].get("strake.pushdown.summary", "")
            assert ("o_custkey" in summary) == (source == "pt")


# ------------------------------------------------------------------ Flight
@pytest.fixture
def flight(spark, tmp_path):
    amounts = pa.array([Decimal("1234.56"), Decimal("2500.00"), Decimal("999.99")],
                       type=pa.decimal128(12, 2))
    pq.write_table(
        pa.table({"id": pa.array([1, 2, 3], type=pa.int64()), "amt": amounts}),
        tmp_path / "pay.parquet",
    )
    eng = ss.connect(
        {
            "sources": [
                {"name": "fx", "type": "parquet", "url": SF_DIR,
                 "tables": [{"name": "nation"}]},
                {"name": "py", "type": "parquet", "url": str(tmp_path),
                 "tables": [{"name": "pay"}]},
            ],
            "cache": {"enabled": True, "directory": str(tmp_path / "cache")},
            "policies": {
                "roles": {"r0": {"tables": {
                    "fx_nation": {"rls_filter": "n_regionkey = 0"},
                    "py_pay": {"masking": {
                        "amt": "CAST(FLOOR(amt / 1000) AS DOUBLE) * 1000"}},
                }}},
                "users": {"pat": ["r0"]},
            },
        },
        spark=spark,
    )
    srv = make_server(eng)
    t = threading.Thread(target=srv.serve, daemon=True)
    t.start()
    client = fl.FlightClient(f"grpc://127.0.0.1:{srv.port}")
    yield eng, client
    client.close()
    srv.shutdown()


def _info(client, sql, user=None):
    cmd = json.dumps({"sql": sql, "user": user}).encode() if user else sql.encode()
    return client.get_flight_info(fl.FlightDescriptor.for_command(cmd))


def _retarget(ticket: fl.Ticket, **fields) -> fl.Ticket:
    req = json.loads(ticket.ticket.decode())
    req.update(fields)
    return fl.Ticket(json.dumps(req).encode())


COUNT_Q = "SELECT count(*) AS n FROM fx_nation"


class TestFlightPlanOnce:
    def test_statement_planned_once(self, flight):
        eng, client = flight
        planned = eng.metrics()["queries_planned"]
        info = _info(client, COUNT_Q, user="pat")
        req = json.loads(info.endpoints[0].ticket.ticket.decode())
        assert (req["sql"], req["user"]) == (COUNT_Q, "pat") and req["nonce"]
        out = client.do_get(info.endpoints[0].ticket).read_all()
        assert out.to_pylist() == [{"n": 5}]
        assert eng.metrics()["queries_planned"] == planned + 1

    def test_missing_nonce_replans(self, flight):
        eng, client = flight
        info = _info(client, COUNT_Q, user="pat")
        planned = eng.metrics()["queries_planned"]
        ticket = _retarget(info.endpoints[0].ticket, nonce=None)
        assert client.do_get(ticket).read_all().to_pylist() == [{"n": 5}]
        assert eng.metrics()["queries_planned"] == planned + 1

    def test_expired_nonce_replans(self, flight, monkeypatch):
        eng, client = flight
        monkeypatch.setattr(server_mod, "PARKED_TTL_S", -1.0)
        info = _info(client, COUNT_Q, user="pat")
        planned = eng.metrics()["queries_planned"]
        out = client.do_get(info.endpoints[0].ticket).read_all()
        assert out.to_pylist() == [{"n": 5}]
        assert eng.metrics()["queries_planned"] == planned + 1

    def test_nonce_parked_for_another_principal_replans(self, flight):
        eng, client = flight
        info = _info(client, COUNT_Q, user="pat")  # parked under pat's RLS
        planned = eng.metrics()["queries_planned"]
        ticket = _retarget(info.endpoints[0].ticket, user=None)
        assert client.do_get(ticket).read_all().to_pylist() == [{"n": 25}]
        assert eng.metrics()["queries_planned"] == planned + 1
        # and the other way round: an unrestricted plan never serves pat
        info = _info(client, COUNT_Q)
        ticket = _retarget(info.endpoints[0].ticket, user="pat")
        assert client.do_get(ticket).read_all().to_pylist() == [{"n": 5}]

    def test_nonce_parked_for_other_sql_replans(self, flight):
        _, client = flight
        info = _info(client, COUNT_Q)
        other = "SELECT count(*) AS n FROM fx_nation WHERE n_regionkey = 2"
        ticket = _retarget(info.endpoints[0].ticket, sql=other)
        assert client.do_get(ticket).read_all().to_pylist() == [{"n": 5}]

    def test_nonce_is_redeemed_once(self, flight):
        eng, client = flight
        info = _info(client, COUNT_Q)
        for _ in range(2):
            out = client.do_get(info.endpoints[0].ticket).read_all()
            assert out.to_pylist() == [{"n": 25}]

    def test_flight_info_schema_matches_stream_under_masking(self, flight):
        _, client = flight
        q = "SELECT id, amt FROM py_pay ORDER BY id"
        for _ in range(3):  # planned, planned (confirms), text hit
            for user, amt_type in (("pat", pa.float64()), (None, pa.decimal128(12, 2))):
                info = _info(client, q, user=user)
                out = client.do_get(info.endpoints[0].ticket).read_all()
                assert info.schema.field("amt").type == amt_type
                assert out.schema.equals(info.schema, check_metadata=False)
        assert out.column("amt").to_pylist()[0] is not None

    def test_repeated_flight_statement_skips_catalyst(self, flight):
        eng, client = flight
        q = "SELECT n_name FROM fx_nation WHERE n_nationkey = 7"
        for _ in range(2):
            client.do_get(_info(client, q).endpoints[0].ticket).read_all()
        planned = eng.metrics()["queries_planned"]
        hits = eng.metrics()["cache_text_hits"]
        out = client.do_get(_info(client, q).endpoints[0].ticket).read_all()
        assert out.to_pylist() == [{"n_name": spark_nation_name(eng, 7)}]
        assert eng.metrics()["queries_planned"] == planned
        assert eng.metrics()["cache_text_hits"] == hits + 1

    @pytest.mark.parametrize("kind", ["statement", "prepared"])
    def test_flight_sql_query_planned_once(self, flight, kind):
        import strake_spark.flightsql as fsql

        eng, client = flight
        cmd = fsql.pack_command(
            fsql.StatementQuery(query=COUNT_Q) if kind == "statement"
            else fsql.PreparedStatementQuery(prepared_statement_handle=COUNT_Q.encode())
        )
        planned = eng.metrics()["queries_planned"]
        info = client.get_flight_info(fl.FlightDescriptor.for_command(cmd))
        out = client.do_get(info.endpoints[0].ticket).read_all()
        assert out.to_pylist() == [{"n": 25}]
        assert eng.metrics()["queries_planned"] == planned + 1


def test_parking_map_is_bounded_and_single_use(monkeypatch):
    monkeypatch.setattr(server_mod, "PARKED_MAX", 2)
    parked = server_mod._Parked()
    nonces = [parked.park(f"stmt{i}") for i in range(3)]
    assert parked.take(nonces[0]) is None  # dropped: oldest beyond the bound
    assert parked.take(nonces[2]) == "stmt2"
    assert parked.take(nonces[2]) is None  # taken once
    assert parked.take("not-a-nonce") is None


def spark_nation_name(eng, key: int) -> str:
    return eng.spark.sql(
        f"SELECT n_name FROM fx_nation WHERE n_nationkey = {key}"
    ).collect()[0].n_name


# A Flight server that takes statements before DuckDB was ever used on the
# process's main thread must serve them all (it used to crash the process).
_FLIGHT_FIRST_SCRIPT = textwrap.dedent("""
    import threading
    import strake_spark as ss
    from strake_spark.server import make_server
    from strake_spark.session import build_session

    spark = build_session(app_name="strake-flight-first", shuffle_partitions=2)
    eng = ss.connect({"sources": [{"name": "sg", "type": "parquet", "url": %(sf)r,
                                   "tables": [{"name": "nation"}]}]}, spark=spark)
    srv = make_server(eng)
    threading.Thread(target=srv.serve, daemon=True).start()
    remote = ss.connect(f"grpc://127.0.0.1:{srv.port}")
    served = 0
    for i in range(50):
        t = remote.execute(
            f"SELECT n_name FROM sg_nation WHERE n_nationkey = {i %% 25}")
        served += t.num_rows
    print("served", served, flush=True)
    remote.close()
    srv.shutdown()
    spark.stop()
""")


class TestFlightServesWithoutMainThreadDuckDB:
    def test_fifty_statements_served(self, tmp_path):
        env = dict(os.environ, PYTHONPATH=REPO_ROOT)
        proc = subprocess.run(
            [sys.executable, "-c", _FLIGHT_FIRST_SCRIPT % {"sf": SF_DIR}],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert "served 50" in proc.stdout
