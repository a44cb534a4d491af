"""The planner's one SQL-AST layer (plans/sqlast.py): one parse per
statement text, fresh trees per caller, the shared ownership rule, and
the rule that no other module calls DuckDB's AST functions."""

from __future__ import annotations

import os
import sys
import threading

import duckdb
import pytest

import strake_spark as ss
from strake_spark.plans import sqlast
from strake_spark.plans.federation import PushdownPlan
from strake_spark.plans.partial import PartialPlan
from tests.conftest import REPO_ROOT, SF_DIR


class TestParse:
    def test_trees_share_no_objects(self):
        sql = "SELECT a, b FROM t WHERE a IN (1, 2) AND b LIKE 'x%'"
        one, two = sqlast.parse(sql), sqlast.parse(sql)
        assert one == two
        ids = {id(n) for n in sqlast.nodes(one)}
        assert not ids & {id(n) for n in sqlast.nodes(two)}
        sqlast.base_tables(one)[0]["table_name"] = "rewritten"
        assert sqlast.base_tables(sqlast.parse(sql))[0]["table_name"] == "t"

    def test_concurrent_callers_never_see_each_others_rewrites(self):
        """The memo is shared by every thread (REST is thread-per-request);
        each caller still gets its own tree."""
        texts = [f"SELECT x FROM t{i} JOIN u{i} ON true" for i in range(4)]
        sqlast._raw.cache_clear()
        errors: list[str] = []

        def worker(k: int) -> None:
            for j in range(100):
                sql = texts[(k + j) % len(texts)]
                tree = sqlast.parse(sql)
                names = [n["table_name"] for n in sqlast.base_tables(tree)]
                if names != sql.split()[3:6:2]:
                    errors.append(f"{sql}: {names}")
                for n in sqlast.base_tables(tree):
                    n["table_name"] = "rewritten"

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert errors == []

    def test_unparseable_is_none(self):
        assert sqlast.parse("SELECT ??? FROM") is None

    def test_base_tables_skip_cte_names(self):
        sql = "WITH a AS (SELECT * FROM s.t) SELECT * FROM a JOIN u ON true"
        assert [n["table_name"] for n in sqlast.base_tables(sqlast.parse(sql))] == ["t", "u"]
        assert sqlast.table_refs(sql) == (("s", "t"), ("", "u"))
        assert sqlast.table_refs("SELECT ??? FROM") is None


class TestOwnedColumn:
    COLS = {"c_name", "c_acctbal"}

    @pytest.mark.parametrize("names, alias, want", [
        (["C_NAME"], "c", "c_name"),
        (["C", "C_Name"], "c", "c_name"),
        (["d", "c_name"], "c", None),
        (["c_phone"], "c", None),
    ])
    def test_matches_without_case(self, names, alias, want):
        assert sqlast.owned_column(names, self.COLS, alias) == want

    def test_bare_name_of_another_table_is_not_owned(self):
        assert sqlast.owned_column(["C_NAME"], self.COLS, "c", others={"c_name"}) is None
        assert sqlast.owned_column(["c", "C_NAME"], self.COLS, "c", others={"c_name"}) == "c_name"

    def test_name_matching_two_columns_is_not_owned(self):
        assert sqlast.owned_column(["x"], {"x", "X"}, "t") is None


@pytest.fixture(scope="module")
def remote_engine(spark, tmp_path_factory):
    """DuckDB remote (orders, customer) + local parquet (nation)."""
    dpath = str(tmp_path_factory.mktemp("sqlast") / "r.duckdb")
    con = duckdb.connect(dpath)
    for t in ("orders", "customer"):
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    con.close()
    return ss.connect(
        {
            "sources": [
                {"name": "sq", "type": "duckdb", "url": dpath},
                {"name": "sl", "type": "parquet", "url": SF_DIR,
                 "tables": [{"name": "nation"}]},
            ]
        },
        spark=spark,
    )


class TestOneParsePerStatement:
    """One ``execute`` parses its statement once, whichever rung runs it;
    a shipped subtree adds one parse of the rewritten text."""

    @pytest.mark.parametrize("sql, plan_type, most", [
        ("SELECT n_name FROM sl_nation WHERE n_regionkey = 1", type(None), 1),
        ("SELECT count(*) AS n FROM sq_orders WHERE o_custkey = 7", PushdownPlan, 1),
        ("SELECT c.c_name, n.n_name FROM sq_customer c "
         "JOIN sl_nation n ON c.c_nationkey = n.n_nationkey WHERE c.c_acctbal > 9000",
         PartialPlan, 1),
        ("WITH a AS (SELECT c_nationkey, count(*) AS cnt FROM sq_customer "
         "GROUP BY c_nationkey) SELECT n.n_name, a.cnt FROM a "
         "JOIN sl_nation n ON a.c_nationkey = n.n_nationkey", PartialPlan, 2),
    ])
    def test_parse_count(self, remote_engine, monkeypatch, sql, plan_type, most):
        real = sqlast._ast_execute
        parses: list[str] = []

        def counting(stmt, params):
            if "json_serialize_sql" in stmt:
                parses.append(params[0])
            return real(stmt, params)

        sqlast._raw.cache_clear()
        sqlast._refs.cache_clear()
        monkeypatch.setattr(sqlast, "_ast_execute", counting)
        assert remote_engine.execute(sql).num_rows > 0
        assert isinstance(remote_engine._last_pushdown, plan_type)
        assert parses[0] == sql
        assert len(parses) <= most, parses
        if most == 2:  # the subtree rung ran: its rewritten text is the second
            assert len(parses) == 2 and "strake_sub_" in parses[1]


def test_engine_without_duckdb_runs_locally(spark, monkeypatch):
    """DuckDB is a dev extra: without it the engine still builds, every
    parse is None, and a statement runs locally."""
    monkeypatch.setitem(sys.modules, "duckdb", None)
    monkeypatch.setattr(sqlast, "_ast_con", None)
    sqlast._raw.cache_clear()
    sqlast._refs.cache_clear()
    engine = ss.connect(
        {"sources": [{"name": "sl", "type": "parquet", "url": SF_DIR,
                      "tables": [{"name": "nation"}]}]},
        spark=spark,
    )
    sql = "SELECT n_name FROM sl_nation WHERE n_regionkey = 1"
    assert sqlast.parse(sql) is None and sqlast.table_refs(sql) is None
    assert engine.execute(sql).num_rows == 5
    assert sqlast._ast_con is None


def test_only_sqlast_calls_duckdb_ast_functions():
    """Keeping DuckDB's AST functions behind plans/sqlast.py keeps one
    parse per statement and one place that owns the AST format."""
    pkg = os.path.join(REPO_ROOT, "strake_spark")
    allowed = os.path.join(pkg, "plans", "sqlast.py")
    offenders = []
    for root, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == allowed:
                continue
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            if "json_serialize_sql" in text or "json_deserialize_sql" in text:
                offenders.append(os.path.relpath(path, REPO_ROOT))
    assert offenders == []
