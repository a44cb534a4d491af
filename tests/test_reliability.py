"""Retry / circuit breaker / admission control unit tests (reference
crates/common/src/{retry,circuit_breaker}.rs behaviors) plus engine
integration and REST 5xx retry."""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from strake_spark.config import RetryConfig
from strake_spark.errors import QueryRejected
from strake_spark.reliability import (
    BreakerConfig,
    CircuitBreaker,
    CircuitOpen,
    ConcurrencyGovernor,
    retry_call,
)


class TestRetry:
    def test_succeeds_after_transient_failures(self):
        calls = {"n": 0}

        def flaky():
            calls["n"] += 1
            if calls["n"] < 3:
                raise ValueError("transient")
            return "ok"

        assert retry_call(flaky, RetryConfig(max_attempts=5, base_ms=1), sleep=lambda s: None) == "ok"
        assert calls["n"] == 3

    def test_exhausts_and_raises_last(self):
        def always():
            raise ValueError("perm")

        with pytest.raises(ValueError, match="perm"):
            retry_call(always, RetryConfig(max_attempts=3, base_ms=1), sleep=lambda s: None)

    def test_backoff_is_exponential_and_capped(self):
        delays: list[float] = []

        def always():
            raise ValueError("x")

        with pytest.raises(ValueError):
            retry_call(
                always,
                RetryConfig(max_attempts=5, base_ms=100, cap_ms=250),
                sleep=delays.append,
            )
        assert len(delays) == 4
        # full jitter: delay_i <= min(cap, base * 2^i) / 1000
        for i, d in enumerate(delays):
            assert 0 <= d <= min(250, 100 * 2**i) / 1000 + 1e-9

    def test_non_retryable_passes_through(self):
        def boom():
            raise KeyError("nope")

        with pytest.raises(KeyError):
            retry_call(boom, RetryConfig(max_attempts=5, base_ms=1), retryable=(ValueError,))


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class TestCircuitBreaker:
    def _breaker(self, **kw):
        clock = FakeClock()
        cfg = BreakerConfig(
            error_rate_threshold=0.5, window_size=4, min_calls=4,
            open_seconds=10.0, **kw,
        )
        return CircuitBreaker("test", cfg, clock=clock), clock

    def test_trips_on_error_rate(self):
        b, _ = self._breaker()
        for ok in (True, False, False, True):  # 50% failures over window=4
            b.record(ok)
        assert b.state == "open"
        with pytest.raises(CircuitOpen):
            b.acquire()

    def test_stays_closed_under_threshold(self):
        b, _ = self._breaker()
        for ok in (True, True, True, False):
            b.record(ok)
        assert b.state == "closed"
        b.acquire()

    def test_half_open_then_close_on_success(self):
        b, clock = self._breaker()
        for ok in (False, False, False, False):
            b.record(ok)
        assert b.state == "open"
        clock.t = 11.0
        assert b.state == "half_open"
        b.acquire()  # one trial allowed
        with pytest.raises(CircuitOpen):
            b.acquire()  # second trial blocked
        b.record(True)
        assert b.state == "closed"

    def test_half_open_reopens_on_failure(self):
        b, clock = self._breaker()
        for _ in range(4):
            b.record(False)
        clock.t = 11.0
        b.acquire()
        b.record(False)
        assert b.state == "open"

    def test_release_does_not_judge(self):
        b, clock = self._breaker()
        for _ in range(4):
            b.record(False)
        clock.t = 11.0
        b.acquire()
        b.release()
        assert b.state == "half_open"
        b.acquire()  # trial slot freed again


class TestGovernor:
    def test_global_budget_limits_concurrency(self):
        gov = ConcurrencyGovernor(global_budget=2)
        held = []
        a = gov.admit(); a.__enter__(); held.append(a)
        b = gov.admit(); b.__enter__(); held.append(b)
        with pytest.raises(QueryRejected, match="admission timed out"):
            gov.admit(timeout=0.05).__enter__()
        for h in held:
            h.__exit__(None, None, None)
        with gov.admit(timeout=0.05):
            pass

    def test_per_source_cap(self):
        gov = ConcurrencyGovernor(global_budget=10)
        gov.set_source_limit("pg", 1)
        first = gov.admit(("pg",)); first.__enter__()
        with pytest.raises(QueryRejected):
            gov.admit(("pg",), timeout=0.05).__enter__()
        # other sources unaffected
        with gov.admit(("other",), timeout=0.05):
            pass
        first.__exit__(None, None, None)

    def test_permits_released_on_failure(self):
        gov = ConcurrencyGovernor(global_budget=1)
        gov.set_source_limit("s", 1)
        blocker = gov.admit(("s",)); blocker.__enter__()
        with pytest.raises(QueryRejected):
            gov.admit(("s",), timeout=0.05).__enter__()
        blocker.__exit__(None, None, None)
        with gov.admit(("s",), timeout=0.05):  # everything was released
            pass


class TestEngineIntegration:
    def test_breaker_opens_after_source_failures(self, spark, tmp_path):
        import duckdb

        import strake_spark as ss

        dbpath = str(tmp_path / "brk.duckdb")
        con = duckdb.connect(dbpath)
        con.execute("CREATE TABLE t (x INTEGER)")
        con.execute("INSERT INTO t VALUES (1), (2)")
        con.close()
        eng = ss.connect({"sources": [{"name": "bsrc", "type": "duckdb", "url": dbpath}]}, spark=spark)
        # shrink the breaker so the test is fast
        from strake_spark.reliability import BreakerConfig, CircuitBreaker

        eng._breakers["bsrc"] = CircuitBreaker("bsrc", BreakerConfig(window_size=2, min_calls=2, open_seconds=60))
        assert eng.execute("SELECT count(*) AS n FROM bsrc_t").num_rows == 1

        import os
        os.remove(dbpath)  # source vanishes -> queries fail
        for _ in range(2):
            with pytest.raises(Exception):
                eng.execute("SELECT sum(x) AS s FROM bsrc_t")
        with pytest.raises(CircuitOpen):
            eng.execute("SELECT sum(x) AS s FROM bsrc_t")


class _FlakyHandler(BaseHTTPRequestHandler):
    fails_left = 2

    def log_message(self, *a):
        pass

    def do_GET(self):
        cls = type(self)
        if cls.fails_left > 0:
            cls.fails_left -= 1
            self.send_response(503)
            self.end_headers()
            return
        body = json.dumps([{"id": 1}, {"id": 2}]).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(body)


class TestRestRetry:
    def test_5xx_retried_until_success(self, spark):
        srv = ThreadingHTTPServer(("127.0.0.1", 0), _FlakyHandler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            from strake_spark.sources import rest as rest_src
            from strake_spark.sources.registry import ensure_format

            ensure_format(spark, rest_src.RestDataSource)
            df = (
                spark.read.format(rest_src.FORMAT_NAME)
                .option("url", f"http://127.0.0.1:{srv.server_port}/x")
                .option("retry_attempts", "4")
                .option("retry_base_ms", "10")
                .load()
            )
            assert df.count() == 2
        finally:
            srv.shutdown()


class TestUserSlots:
    """Per-user connection slots (reference enterprise 'Connection
    Slots': limit concurrent queries per user, docs/enterprise.md:57)."""

    def test_user_limit_blocks_third_concurrent(self):
        from strake_spark.reliability import ConcurrencyGovernor
        from strake_spark.errors import QueryRejected

        gov = ConcurrencyGovernor(10, user_slots={"pat": 2})
        a = gov.admit(user="pat", timeout=0.2)
        b = gov.admit(user="pat", timeout=0.2)
        a.__enter__(); b.__enter__()
        try:
            with pytest.raises(QueryRejected, match="admission timed out"):
                with gov.admit(user="pat", timeout=0.2):
                    pass
            # other users are unaffected
            with gov.admit(user="sam", timeout=0.2):
                pass
        finally:
            a.__exit__(None, None, None)
            b.__exit__(None, None, None)
        # slots released: pat admits again
        with gov.admit(user="pat", timeout=0.2):
            pass

    def test_default_user_slots_apply_to_unnamed_principals(self):
        from strake_spark.reliability import ConcurrencyGovernor
        from strake_spark.errors import QueryRejected

        gov = ConcurrencyGovernor(10, default_user_slots=1)
        a = gov.admit(user="anyone", timeout=0.2)
        a.__enter__()
        try:
            with pytest.raises(QueryRejected):
                with gov.admit(user="anyone", timeout=0.2):
                    pass
        finally:
            a.__exit__(None, None, None)
        # anonymous (user=None) queries never hit user slots
        with gov.admit(timeout=0.2):
            pass

    def test_set_user_limit_runtime(self):
        from strake_spark.reliability import ConcurrencyGovernor
        from strake_spark.errors import QueryRejected

        gov = ConcurrencyGovernor(10)
        with gov.admit(user="x", timeout=0.2):  # unlimited before
            with gov.admit(user="x", timeout=0.2):
                pass
        gov.set_user_limit("x", 1)
        a = gov.admit(user="x", timeout=0.2)
        a.__enter__()
        try:
            with pytest.raises(QueryRejected):
                with gov.admit(user="x", timeout=0.2):
                    pass
        finally:
            a.__exit__(None, None, None)

    def test_engine_config_plumbs_user_slots(self, spark):
        import strake_spark as ss
        from tests.conftest import SF_DIR

        eng = ss.connect(
            {"sources": [{"name": "us", "type": "parquet", "url": SF_DIR,
                          "tables": [{"name": "region"}]}],
             "user_slots": {"pat": 1}},
            spark=spark,
        )
        assert eng._governor._user_limits == {"pat": 1}
        # a normal governed query under the slot still works end-to-end
        out = eng.execute("SELECT count(*) AS n FROM us_region", user="pat")
        assert out.to_pylist() == [{"n": 5}]


class TestPriorityLane:
    """Enterprise 'Query Buffering' (docs/enterprise.md:62): bulk users
    queue when the shared pool saturates; priority users keep admitting
    through the reserved lane."""

    def test_priority_admits_while_bulk_queues(self):
        from strake_spark.errors import QueryRejected
        from strake_spark.reliability import ConcurrencyGovernor

        gov = ConcurrencyGovernor(
            3, priority_users={"ceo"}, priority_reserved=1
        )
        # bulk saturates the shared pool (3 - 1 reserved = 2 permits)
        a1 = gov.admit(timeout=0.1, user="bulk1").__enter__()
        a2 = gov.admit(timeout=0.1, user="bulk2").__enter__()
        with pytest.raises(QueryRejected, match="admission timed out"):
            gov.admit(timeout=0.1, user="bulk3").__enter__()
        # the priority user admits instantly through the reserve
        import time as _t

        t0 = _t.monotonic()
        pri = gov.admit(timeout=5.0, user="ceo").__enter__()
        assert _t.monotonic() - t0 < 0.5  # sub-second, not the bulk queue
        pri.__exit__(None, None, None)
        a1.__exit__(None, None, None)
        a2.__exit__(None, None, None)

    def test_reserve_bounded_for_priority_users_too(self):
        from strake_spark.errors import QueryRejected
        from strake_spark.reliability import ConcurrencyGovernor

        gov = ConcurrencyGovernor(2, priority_users={"p"}, priority_reserved=1)
        held = [gov.admit(timeout=0.1, user="p").__enter__() for _ in range(2)]
        with pytest.raises(QueryRejected):  # shared + reserve both held
            gov.admit(timeout=0.1, user="p").__enter__()
        for h in held:
            h.__exit__(None, None, None)

    def test_priority_prefers_shared_pool(self):
        from strake_spark.reliability import ConcurrencyGovernor

        gov = ConcurrencyGovernor(3, priority_users={"p"}, priority_reserved=1)
        adm = gov.admit(timeout=0.1, user="p").__enter__()
        assert adm._held[0] is gov._global  # shared permit, reserve untouched
        adm.__exit__(None, None, None)

    def test_no_reserve_without_config(self):
        from strake_spark.reliability import ConcurrencyGovernor

        gov = ConcurrencyGovernor(2)
        assert gov._reserve is None

    def test_release_returns_to_the_right_pool(self):
        from strake_spark.errors import QueryRejected
        from strake_spark.reliability import ConcurrencyGovernor

        gov = ConcurrencyGovernor(2, priority_users={"p"}, priority_reserved=1)
        bulk = gov.admit(timeout=0.1, user="b").__enter__()  # shared exhausted
        pri = gov.admit(timeout=0.1, user="p").__enter__()   # reserve permit
        assert pri._held[0] is gov._reserve
        pri.__exit__(None, None, None)
        # reserve is free again for priority; bulk still blocked
        with pytest.raises(QueryRejected):
            gov.admit(timeout=0.1, user="b2").__enter__()
        pri2 = gov.admit(timeout=0.1, user="p").__enter__()
        pri2.__exit__(None, None, None)
        bulk.__exit__(None, None, None)

    def test_config_plumbing(self):
        from strake_spark.config import parse_config

        c = parse_config({"sources": [], "priority_users": ["ceo"],
                          "priority_reserved_slots": 2})
        assert c.priority_users == frozenset({"ceo"})
        assert c.priority_reserved_slots == 2


# ------------------------------------------- cache hits and the envelope
HIT_Q = "SELECT n_name FROM hs_nation WHERE n_regionkey = 1 ORDER BY n_name"
MISS_Q = "SELECT count(*) AS n FROM hs_nation"


def _hit_engine(spark, tmp_path, **extra):
    import strake_spark as ss
    from tests.conftest import SF_DIR

    cfg = {
        "sources": [{"name": "hs", "type": "parquet", "url": SF_DIR,
                     "tables": [{"name": "nation"}]}],
        "cache": {"enabled": True, "directory": str(tmp_path / "cache")},
    }
    cfg.update(extra)
    return ss.connect(cfg, spark=spark)


def _small_breaker(eng, source="hs", clock=time.monotonic):
    br = CircuitBreaker(
        source, BreakerConfig(window_size=2, min_calls=2, open_seconds=60), clock=clock
    )
    eng._breakers[source] = br
    return br


def _is_hit(eng, query, user=None) -> bool:
    eng.execute(query, user=user)
    return "x-strake-cache: hit" in eng.last_warnings()


class _BlockedMiss:
    """Runs one miss on a thread and holds it inside ``run_with_timeout``
    (so inside the envelope, holding its permit) until released."""

    def __init__(self, eng, monkeypatch):
        from strake_spark import engine as engine_mod

        self.started, self.release = threading.Event(), threading.Event()
        real = engine_mod.run_with_timeout

        def blocking(df, fn, timeout):
            self.started.set()
            self.release.wait(60)
            return real(df, fn, timeout)

        monkeypatch.setattr(engine_mod, "run_with_timeout", blocking)
        self.rows = None
        self.thread = threading.Thread(target=self._run, args=(eng,), daemon=True)

    def _run(self, eng):
        self.rows = eng.execute(MISS_Q).num_rows

    def __enter__(self):
        self.thread.start()
        assert self.started.wait(60)
        return self

    def __exit__(self, *exc):
        self.release.set()
        self.thread.join(60)
        assert not self.thread.is_alive() and self.rows == 1  # the miss completed


def _finishes(fn, within=20.0):
    """Run ``fn`` on a thread; its result when it returns within
    ``within`` seconds, else an AssertionError."""
    out, done = {}, threading.Event()

    def run():
        try:
            out["v"] = fn()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            out["e"] = e
        done.set()

    threading.Thread(target=run, daemon=True).start()
    assert done.wait(within), "statement waited for the held permit"
    if "e" in out:
        raise out["e"]
    return out["v"]


class TestOnlySourceFaultsMoveBreakers:
    def test_bad_columns_leave_the_breaker_closed(self, spark, tmp_path):
        from strake_spark.errors import EngineError, ErrorCode

        eng = _hit_engine(spark, tmp_path)
        br = _small_breaker(eng)
        for _ in range(3):
            with pytest.raises(EngineError) as ei:
                eng.execute("SELECT no_such_col FROM hs_nation")
            assert ei.value.code is ErrorCode.FIELD_NOT_FOUND
        assert br.state == "closed" and len(br._outcomes) == 0
        # profile shares the envelope
        with pytest.raises(EngineError):
            eng.profile("SELECT no_such_col FROM hs_nation")
        assert br.state == "closed"

    def test_cost_gate_rejections_leave_the_breaker_closed(self, spark, tmp_path):
        from strake_spark.errors import BudgetExceeded

        eng = _hit_engine(spark, tmp_path, query_limits={"max_estimated_bytes": 1})
        br = _small_breaker(eng)
        for _ in range(3):
            with pytest.raises(BudgetExceeded):
                eng.execute(MISS_Q)
        assert br.state == "closed"

    def test_breaker_trial_of_an_open_second_source_is_given_back(self):
        from strake_spark.reliability import source_envelope

        clock = [0.0]
        half = CircuitBreaker("a", BreakerConfig(window_size=1, min_calls=1,
                                                 open_seconds=1), clock=lambda: clock[0])
        half.record(False)
        clock[0] = 2.0  # half-open: one trial
        shut = CircuitBreaker("b", BreakerConfig(window_size=1, min_calls=1))
        shut.record(False)
        with pytest.raises(CircuitOpen):
            with source_envelope(ConcurrencyGovernor(1), ("a", "b"), [half, shut]):
                pass
        half.acquire()  # the trial was released, not leaked
        half.release()


class TestCacheHitsSkipTheEnvelope:
    def test_text_hit_completes_while_the_only_permit_is_held(
        self, spark, tmp_path, monkeypatch
    ):
        from strake_spark.errors import QueryRejected as Rejected

        eng = _hit_engine(spark, tmp_path, global_connection_budget=1)
        expected = eng.execute(HIT_Q)
        eng.execute(HIT_Q)  # confirms the text key
        with _BlockedMiss(eng, monkeypatch):
            assert eng._governor._global._value == 0
            before = eng.metrics()["cache_text_hits"]
            assert _finishes(lambda: eng.execute(HIT_Q)).equals(expected)
            assert eng.metrics()["cache_text_hits"] == before + 1
            # the gate still runs first: a non-SELECT is refused at once
            with pytest.raises(Rejected):
                _finishes(lambda: eng.execute("DROP TABLE hs_nation"))

    def test_flight_hit_completes_while_the_only_permit_is_held(
        self, spark, tmp_path, monkeypatch
    ):
        import pyarrow.flight as fl

        from strake_spark.server import make_server

        eng = _hit_engine(spark, tmp_path, global_connection_budget=1)
        srv = make_server(eng)
        threading.Thread(target=srv.serve, daemon=True).start()
        client = fl.FlightClient(f"grpc://127.0.0.1:{srv.port}")

        def fetch():
            info = client.get_flight_info(fl.FlightDescriptor.for_command(HIT_Q.encode()))
            return client.do_get(info.endpoints[0].ticket).read_all()

        try:
            expected = fetch()  # miss: run and put
            with _BlockedMiss(eng, monkeypatch):
                assert _finishes(fetch).equals(expected)  # plan-key hit
                assert _finishes(fetch).equals(expected)  # now a text hit
        finally:
            client.close()
            srv.shutdown()

    def test_open_breaker_serves_hits_and_rejects_misses(self, spark, tmp_path):
        eng = _hit_engine(spark, tmp_path)
        br = _small_breaker(eng)
        for _ in range(2):
            eng.execute(HIT_Q)  # confirms the text key
        br.record(False)
        br.record(False)
        assert br.state == "open"
        assert _is_hit(eng, HIT_Q)  # text hit
        # other text, same plan, planned by the caller: a plan-key hit
        other = HIT_Q.replace("ORDER", " ORDER")
        eng.execute(other, prepared=eng.prepare(other))
        assert eng.last_warnings() == ["x-strake-cache: hit"]
        with pytest.raises(CircuitOpen):
            eng.execute(MISS_Q)
        assert br.state == "open"

    def test_half_open_breaker_stays_half_open_after_a_hit(self, spark, tmp_path):
        clock = [0.0]
        eng = _hit_engine(spark, tmp_path)
        br = _small_breaker(eng, clock=lambda: clock[0])
        for _ in range(2):
            eng.execute(HIT_Q)  # confirms the text key
        br.record(False)
        br.record(False)
        clock[0] = 61.0
        assert br.state == "half_open"
        assert _is_hit(eng, HIT_Q)
        assert br.state == "half_open" and br._half_open_in_flight == 0
        eng.execute(MISS_Q)  # the source's real trial closes it
        assert br.state == "closed"

    def test_failing_source_with_mostly_hits_still_trips(self, spark, tmp_path):
        import os

        import duckdb

        import strake_spark as ss

        dbpath = str(tmp_path / "hits.duckdb")
        con = duckdb.connect(dbpath)
        con.execute("CREATE TABLE t (x INTEGER)")
        con.execute("INSERT INTO t VALUES (1), (2)")
        con.close()
        eng = ss.connect(
            {"sources": [{"name": "fs", "type": "duckdb", "url": dbpath}],
             "cache": {"enabled": True, "directory": str(tmp_path / "cache")}},
            spark=spark,
        )
        cached = "SELECT count(*) AS n FROM fs_t"
        for _ in range(2):
            eng.execute(cached)  # confirms the text key
        br = _small_breaker(eng, source="fs")
        os.remove(dbpath)  # source vanishes
        for _ in range(2):  # three hits to one miss, twice
            for _ in range(3):
                assert _is_hit(eng, cached)
            with pytest.raises(Exception) as ei:
                eng.execute("SELECT sum(x) AS s FROM fs_t")
            assert not isinstance(ei.value, CircuitOpen)
        assert br.state == "open"
        with pytest.raises(CircuitOpen):
            eng.execute("SELECT sum(x) AS s FROM fs_t")
        assert _is_hit(eng, cached)

    def test_users_never_share_hits(self, spark, tmp_path):
        eng = _hit_engine(
            spark, tmp_path,
            policies={
                "roles": {"r0": {"tables": {"hs_nation": {"rls_filter": "n_regionkey = 0"}}}},
                "users": {"pat": ["r0"]},
            },
        )
        for _ in range(2):
            eng.execute(MISS_Q, user="amy")
        assert _is_hit(eng, MISS_Q, user="amy")
        assert not _is_hit(eng, MISS_Q, user="bob")
        assert eng.execute(MISS_Q, user="pat").to_pylist() == [{"n": 5}]
        assert "x-strake-cache: hit" not in eng.last_warnings()
        assert eng.execute(MISS_Q, user="amy").to_pylist() == [{"n": 25}]
