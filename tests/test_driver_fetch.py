"""Pushed SQL answered on the driver: a statement pushed whole is
answered by its source with no Spark job, and each small subtree or
partial fragment becomes an in-memory relation in place of its
Python-DataSource scan. Both paths must return the same Arrow table;
remote rows are read only inside ``execute``, under the statement's
deadline, after the cost gate."""

from __future__ import annotations

import sqlite3
import threading
import time
import uuid

import duckdb
import pyarrow as pa
import pytest

import strake_spark as ss
from strake_spark.errors import BudgetExceeded, QueryRejected, QueryTimeout
from strake_spark.inventory._wire_fakes import FakeMySql, FakePg, make_fake_ch
from strake_spark.plans.federation import PushdownPlan, plan_sql
from strake_spark.plans.partial import PartialPlan
from strake_spark.sources.registry import REMOTE_TABLES

TYPED = """CREATE TABLE typed AS SELECT * FROM (VALUES
  (1, CAST(10 AS BIGINT), CAST('12.50' AS DECIMAL(12,2)), DATE '2024-03-01',
   TIMESTAMP '2024-03-01 10:30:00.123456', 'ok'),
  (2, NULL, NULL, NULL, NULL, NULL),
  (3, -7, CAST('-0.01' AS DECIMAL(12,2)), DATE '1969-12-31',
   TIMESTAMP '1969-12-31 23:59:59', 'it''s')
) t(id, n, amount, d, ts, note)"""

# rm_t: 5,000 rows in 7 groups; dim: the 7 group keys (a local table)
RM_T = """CREATE TABLE rm_t AS SELECT i AS a, i % 7 AS g,
  DATE '1995-01-01' + CAST(i % 300 AS INTEGER) AS d,
  TIMESTAMP '1995-01-01' + INTERVAL (i) MINUTE AS ts FROM range(5000) r(i)"""


@pytest.fixture(scope="module")
def backing(tmp_path_factory):
    """One DuckDB file behind the duckdb source and the three wire fakes."""
    path = str(tmp_path_factory.mktemp("fetch") / "backing.duckdb")
    con = duckdb.connect(path)
    con.execute(TYPED)
    con.execute(RM_T)
    con.close()
    return path


@pytest.fixture(scope="module")
def servers(backing):
    pg = FakePg(backing, users={"alice": "s3cret"})
    my = FakeMySql(backing, users={"svc": "hunter2"})
    ch = make_fake_ch(backing, users={"analyst": "k3y"})
    for srv in (pg, my, ch):
        threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield {"pg": pg, "my": my, "ch": ch}
    for srv in (pg, my, ch):
        srv.shutdown()


@pytest.fixture(scope="module")
def sqlite_path(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fetch_sqlite") / "typed.sqlite")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE typed (id INTEGER, n BIGINT, amount DECIMAL(12,2), "
                "d DATE, ts TIMESTAMP, note TEXT)")
    con.executemany("INSERT INTO typed VALUES (?, ?, ?, ?, ?, ?)", [
        (1, 10, 12.5, "2024-03-01", "2024-03-01 10:30:00.123456", "ok"),
        (2, None, None, None, None, None),
        (3, -7, -0.01, "1969-12-31", "1969-12-31 23:59:59", "it's"),
    ])
    con.commit()
    con.close()
    return path


def _sources(backing, sqlite_path, servers) -> list[dict]:
    pg, my, ch = servers["pg"], servers["my"], servers["ch"]
    return [
        {"name": "fdk", "type": "duckdb", "url": backing},
        {"name": "fsq", "type": "sqlite", "url": sqlite_path},
        {"name": "fpg", "type": "postgres_wire",
         "url": f"postgresql://127.0.0.1:{pg.server_address[1]}/db",
         "username": "alice", "password": "s3cret", "tables": [{"name": "typed"}]},
        {"name": "fmy", "type": "mysql_wire",
         "url": f"mysql://127.0.0.1:{my.server_address[1]}/db",
         "username": "svc", "password": "hunter2", "tables": [{"name": "typed"}]},
        {"name": "fch", "type": "clickhouse", "url": f"http://127.0.0.1:{ch.server_port}",
         "username": "analyst", "password": "k3y", "tables": [{"name": "typed"}]},
    ]


@pytest.fixture(scope="module")
def dim(tmp_path_factory) -> dict:
    """A local parquet source with the 7 group keys of rm_t."""
    import pyarrow.parquet as pq

    local = tmp_path_factory.mktemp("fetch_local")
    pq.write_table(pa.table({"k": list(range(7)), "name": [f"n{i}" for i in range(7)]}),
                   str(local / "dim.parquet"))
    return {"name": "lc", "type": "parquet", "url": str(local), "tables": [{"name": "dim"}]}


@pytest.fixture(scope="module")
def engine(spark, backing, sqlite_path, servers, dim):
    return ss.connect({"sources": _sources(backing, sqlite_path, servers) + [dim]}, spark=spark)


def _job_id(sc) -> int:
    """Id of a one-task job run now: ids grow by one per job."""
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([1], 1).count()
    finally:
        sc.setJobGroup("", "")
    return max(sc.statusTracker().getJobIdsForGroup(group))


class TestBothPathsEqual:
    @pytest.mark.parametrize("source", ["fdk", "fsq", "fpg", "fmy", "fch"])
    def test_typed_table_with_nulls(self, spark, engine, source):
        """ints, DECIMAL, DATE, TIMESTAMP and strings with NULLs: the
        driver fetch gives the table the Spark scan's toArrow() gives."""
        remote = REMOTE_TABLES[f"{source}_typed"]
        sql = "SELECT * FROM typed"
        via_spark = remote.push_query(spark, sql).toArrow().sort_by("id")
        via_fetch = remote.fetch(sql).sort_by("id")
        assert via_fetch.schema == via_spark.schema
        assert via_fetch.equals(via_spark)
        assert via_fetch.column("note").null_count == 1

    def test_max_rows_stops_the_read(self, engine):
        remote = REMOTE_TABLES["fdk_rm_t"]
        assert remote.fetch("SELECT a FROM rm_t ORDER BY a", 3).column("a").to_pylist() == [0, 1, 2]


class TestWholeStatement:
    def test_runs_no_spark_job(self, spark, engine):
        sql = "SELECT g, COUNT(*) AS n FROM fdk_rm_t WHERE a < 700 GROUP BY g ORDER BY g"
        engine.execute(sql)  # warm: the rung and the probe are exercised once
        before = _job_id(spark.sparkContext)
        out = engine.execute(sql)
        after = _job_id(spark.sparkContext)
        assert after == before + 1  # no job between the two probes
        assert out.to_pylist() == [{"g": g, "n": 100} for g in range(7)]
        # the rung trace is unchanged: plan_sql recorded the whole rung
        assert engine._last_federation_trace[0][:2] == ("whole_statement", "pushed")

    def test_defensive_limit_reads_the_statement_as_written(self, engine):
        """A pushed statement is an opaque scan to Spark's analyzer, so
        its LIMIT or GROUP BY must come from the text: a 3,000-row LIMIT
        and 5,000 groups come back whole, a bare scan is capped."""
        limited = engine.execute("SELECT a FROM fdk_rm_t ORDER BY a LIMIT 3000")
        assert limited.num_rows == 3000
        grouped = engine.execute("SELECT a, COUNT(*) AS n FROM fdk_rm_t GROUP BY a")
        assert grouped.num_rows == 5000
        bare = engine.execute("SELECT a FROM fdk_rm_t")
        assert bare.num_rows == 1000  # the default defensive limit

    def test_row_cap_applies(self, spark, backing):
        eng = ss.connect({"sources": [{"name": "fcap", "type": "duckdb", "url": backing}],
                          "query_limits": {"max_output_rows": 10}}, spark=spark)
        with pytest.raises(QueryRejected, match="max_output_rows"):
            eng.execute("SELECT a FROM fcap_rm_t ORDER BY a LIMIT 11")
        assert eng.execute("SELECT a FROM fcap_rm_t ORDER BY a LIMIT 10").num_rows == 10


class TestFragments:
    SUBTREE = ("WITH s AS (SELECT g, COUNT(*) AS n FROM fdk_rm_t WHERE a < {lim} GROUP BY g) "
               "SELECT d.name, s.n FROM s JOIN lc_dim d ON s.g = d.k ORDER BY d.name")
    PARTIAL = ("SELECT d.name, COUNT(*) AS n FROM fdk_rm_t t JOIN lc_dim d ON t.g = d.k "
               "WHERE t.a < {lim} GROUP BY d.name ORDER BY d.name")

    @staticmethod
    def _count_relations(spark, monkeypatch) -> list:
        made: list = []
        real = spark.createDataFrame
        monkeypatch.setattr(spark, "createDataFrame",
                            lambda *a, **k: made.append(a) or real(*a, **k))
        return made

    def test_subtree_and_partial_match_local(self, spark, engine, monkeypatch):
        made = self._count_relations(spark, monkeypatch)
        for tpl in (self.SUBTREE, self.PARTIAL):
            sql = tpl.format(lim=700)
            df, plan = plan_sql(spark, sql)
            assert isinstance(plan, PartialPlan)
            assert engine.execute(sql).to_pylist() == [
                {"name": f"n{g}", "n": 100} for g in range(7)
            ]
        assert len(made) == 2  # one in-memory relation per statement

    def test_defensive_limit_of_a_subtree_reads_the_statement(self, engine):
        sql = ("WITH s AS (SELECT a, COUNT(*) AS n FROM fdk_rm_t GROUP BY a) "
               "SELECT s.a, d.name FROM s JOIN lc_dim d ON s.a % 7 = d.k")
        assert engine.execute(sql).num_rows == 5000

    def test_large_fragment_keeps_its_scan(self, spark, engine, monkeypatch):
        from strake_spark.sources import pushsql

        made = self._count_relations(spark, monkeypatch)
        monkeypatch.setattr(pushsql, "FETCH_ROWS_MAX", 10)
        out = engine.execute(self.PARTIAL.format(lim=700))
        assert out.column("n").to_pylist() == [100] * 7
        assert made == []

    def test_in_memory_relation_prints_no_data(self, spark):
        df = spark.createDataFrame(pa.table({"s": ["zz-secret-zz"]}), schema="s string")
        assert "zz-secret-zz" not in df._jdf.queryExecution().optimizedPlan().toString()


class TestCacheKeys:
    """The key of a fetched statement or fragment folds in its pushed
    text: statements that differ only in a pushed literal never share
    a cached result."""

    @pytest.fixture(scope="class")
    def cached(self, spark, backing, tmp_path_factory, dim):
        return ss.connect(
            {"sources": [{"name": "fdk", "type": "duckdb", "url": backing}, dim],
             "cache": {"enabled": True, "directory": str(tmp_path_factory.mktemp("cache"))}},
            spark=spark,
        )

    @pytest.mark.parametrize("tpl", [
        "SELECT g, COUNT(*) AS n FROM fdk_rm_t WHERE a < {lim} GROUP BY g ORDER BY g",
        TestFragments.SUBTREE,
        TestFragments.PARTIAL,
    ], ids=["whole", "subtree", "partial"])
    def test_literals_get_their_own_rows(self, cached, tpl):
        for hit in (False, True):  # the second round is served from the cache
            for lim in (700, 1400):
                out = cached.execute(tpl.format(lim=lim))
                assert out.column("n").to_pylist() == [lim // 7] * 7
                assert ("x-strake-cache: hit" in cached.last_warnings()) == hit


class TestCostGate:
    """A configured max_estimated_bytes rejects pushed statements before
    any remote row is read, with the verdict the gate gave when every
    pushed statement ran as a Spark scan (Spark holds no statistics for
    a remote relation, so its estimate is the defensive limit's bound)."""

    STATEMENTS = {
        "whole": "SELECT g, COUNT(*) AS n FROM cpg_rm_t GROUP BY g",
        "subtree": ("WITH s AS (SELECT g, COUNT(*) AS n FROM cpg_rm_t GROUP BY g) "
                    "SELECT d.name, s.n FROM s JOIN lc_dim d ON s.g = d.k"),
        "partial": ("SELECT d.name, t.a FROM cpg_rm_t t JOIN lc_dim d ON t.g = d.k "
                    "WHERE t.a < 70"),
    }

    def _engine(self, spark, servers, dim, max_bytes):
        pg = servers["pg"]
        return ss.connect({
            "sources": [{"name": "cpg", "type": "postgres_wire",
                         "url": f"postgresql://127.0.0.1:{pg.server_address[1]}/db",
                         "username": "alice", "password": "s3cret",
                         "tables": [{"name": "rm_t"}]}, dim],
            "query_limits": {"max_estimated_bytes": max_bytes},
        }, spark=spark)

    @pytest.mark.parametrize("name", ["whole", "subtree", "partial"])
    def test_small_budget_rejects_before_reading(self, spark, servers, dim, name):
        eng = self._engine(spark, servers, dim, 1000)
        pg = servers["pg"]
        seen = len(pg.queries)
        with pytest.raises(BudgetExceeded):
            eng.execute(self.STATEMENTS[name])
        # only schema probes reached the remote
        assert all(q.rstrip().endswith("LIMIT 0") for q in pg.queries[seen:])

    @pytest.mark.parametrize("name,rows", [("whole", 7), ("subtree", 7), ("partial", 70)])
    def test_large_budget_admits(self, spark, servers, dim, name, rows):
        eng = self._engine(spark, servers, dim, 10**9)
        assert eng.execute(self.STATEMENTS[name]).num_rows == rows


def _engine_threads() -> set[threading.Thread]:
    """Live threads, less the fakes' per-connection handlers."""
    return {t for t in threading.enumerate() if "process_request" not in t.name}


class TestDeadline:
    @pytest.mark.parametrize("kind", ["postgres_wire", "mysql_wire", "clickhouse"])
    def test_stalling_wire_server_times_out(self, spark, backing, kind):
        release = threading.Event()
        if kind == "postgres_wire":
            srv = FakePg(backing, users={"u": "pw"})
            url = f"postgresql://127.0.0.1:{srv.server_address[1]}/db"
        elif kind == "mysql_wire":
            srv = FakeMySql(backing, users={"u": "pw"})
            url = f"mysql://127.0.0.1:{srv.server_address[1]}/db"
        else:
            srv = make_fake_ch(backing, users={"u": "pw"})
            url = f"http://127.0.0.1:{srv.server_port}"
        # schema probes answer; the data read stalls
        srv.stall = lambda sql: None if sql.rstrip().endswith("LIMIT 0") else release.wait(60)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            eng = ss.connect({
                "sources": [{"name": "stl", "type": kind, "url": url, "username": "u",
                             "password": "pw", "tables": [{"name": "rm_t"}]}],
                "query_limits": {"query_timeout_seconds": 1},
            }, spark=spark)
            before = _engine_threads()
            t0 = time.monotonic()
            with pytest.raises(QueryTimeout):
                eng.execute("SELECT g, COUNT(*) AS n FROM stl_rm_t GROUP BY g")
            assert time.monotonic() - t0 < 1 + 4
            assert _engine_threads() <= before
        finally:
            release.set()
            srv.shutdown()

    def test_long_duckdb_fetch_times_out(self, spark, tmp_path):
        path = str(tmp_path / "big.duckdb")
        con = duckdb.connect(path)
        con.execute("CREATE TABLE big AS SELECT i AS x FROM range(100000) r(i)")
        con.close()
        eng = ss.connect({"sources": [{"name": "lng", "type": "duckdb", "url": path}],
                          "query_limits": {"query_timeout_seconds": 1}}, spark=spark)
        sql = "SELECT COUNT(*) AS n FROM lng_big a JOIN lng_big b ON a.x + b.x = -1"
        _, plan = plan_sql(spark, sql)
        assert isinstance(plan, PushdownPlan)
        before = _engine_threads()
        t0 = time.monotonic()
        with pytest.raises(QueryTimeout):
            eng.execute(sql)
        assert time.monotonic() - t0 < 1 + 4
        assert _engine_threads() <= before


class TestFlight:
    def test_info_probes_schemas_and_do_get_takes_a_permit(self, spark, servers):
        import pyarrow.flight as fl

        from strake_spark.server import make_server

        pg = servers["pg"]
        eng = ss.connect({"sources": [{
            "name": "flp", "type": "postgres_wire",
            "url": f"postgresql://127.0.0.1:{pg.server_address[1]}/db",
            "username": "alice", "password": "s3cret", "tables": [{"name": "rm_t"}]}]},
            spark=spark)
        admits = []
        admit = eng._governor.admit
        eng._governor.admit = lambda *a, **k: admits.append(a) or admit(*a, **k)
        srv = make_server(eng)
        threading.Thread(target=srv.serve, daemon=True).start()
        client = fl.FlightClient(f"grpc://127.0.0.1:{srv.port}")
        try:
            seen = len(pg.queries)
            sql = "SELECT g, COUNT(*) AS n FROM flp_rm_t WHERE a < 70 GROUP BY g ORDER BY g"
            info = client.get_flight_info(fl.FlightDescriptor.for_command(sql.encode()))
            assert info.schema.names == ["g", "n"]
            assert pg.queries[seen:] and all(
                q.rstrip().endswith("LIMIT 0") for q in pg.queries[seen:])
            assert admits == []
            table = client.do_get(info.endpoints[0].ticket).read_all()
            assert table.column("n").to_pylist() == [10] * 7
            assert len(admits) == 1
            assert not pg.queries[-1].rstrip().endswith("LIMIT 0")
        finally:
            client.close()
            srv.shutdown()


class TestDeadlineScope:
    def test_each_stop_runs_once_and_late_stops_run_at_once(self):
        from strake_spark.sources import pushsql

        ran: list[str] = []
        with pytest.raises(QueryTimeout):
            with pushsql.deadline(0.05):
                pushsql.on_cancel(lambda: ran.append("early"))
                time.sleep(0.2)
                pushsql.on_cancel(lambda: ran.append("late"))
        assert ran == ["early", "late"]
        pushsql.on_cancel(lambda: ran.append("outside"))  # no deadline: a no-op
        assert ran == ["early", "late"]

    def test_in_time_body_returns_and_joins_its_timer(self):
        from strake_spark.sources import pushsql

        before = _engine_threads()
        ran: list[int] = []
        with pushsql.deadline(5):
            pushsql.on_cancel(lambda: ran.append(1))
        assert ran == [] and _engine_threads() <= before
