"""The one registration path of the SQL-speaking sources
(``pushsql.register_tables``): partition-count rules per source type,
``tables[].schema`` in scans and pushed statements, schema-qualified
pushdown, the single ``spark.dataSource.register`` call site, and the
one shared reader (``pushsql.SqlSource``)."""

from __future__ import annotations

import os
import re
import threading

import duckdb
import pytest

import strake_spark as ss
from strake_spark.config import parse_config
from strake_spark.inventory._wire_fakes import FakePg
from strake_spark.sources.registry import REMOTE_TABLES, RemoteTable, register_source
from tests.conftest import REPO_ROOT, SF_DIR

_SQL_TYPES = ("duckdb", "sqlite", "postgres_wire", "mysql_wire", "clickhouse_http")


def _source(type_: str, table: dict, **extra) -> dict:
    """A source of ``type_`` over the nation table of the in-repo fakes."""
    from strake_spark.inventory import _wire_fakes as W
    from strake_spark.inventory.sources_entries import _sqlite_db_for

    creds = {"username": W.WIRE_USER, "password": W.WIRE_PASSWORD}
    if type_ == "duckdb":
        src = {"url": W.duck_path_for(SF_DIR)}
    elif type_ == "sqlite":
        src = {"url": _sqlite_db_for(SF_DIR)}
    elif type_ == "postgres_wire":
        port = W.pg_server_for(SF_DIR).server_address[1]
        src = {"url": f"postgresql://127.0.0.1:{port}/db", **creds}
    elif type_ == "mysql_wire":
        port = W.my_server_for(SF_DIR).server_address[1]
        src = {"url": f"mysql://127.0.0.1:{port}/db", **creds}
    else:
        port = W.ch_server_for(SF_DIR).server_address[1]
        src = {"url": f"http://127.0.0.1:{port}", **creds}
    return {"name": f"pr_{type_}", "type": type_, "tables": [table], **src, **extra}


# (type, partition_column, source options, expected input partitions);
# every source sets max_concurrent_queries: 3
_PARTITION_RULES = [
    # duckdb: 8 when a partition column is declared, else one scan
    ("duckdb", "n_nationkey", {}, 8),
    ("duckdb", None, {"num_partitions": 4}, 1),
    # sqlite: only an explicit num_partitions, rowid ranges without a column
    ("sqlite", None, {"num_partitions": 3}, 3),
    ("sqlite", "n_nationkey", {}, 1),
] + [
    # wire sources: explicit value, else max_concurrent_queries with a column
    case
    for t in ("postgres_wire", "mysql_wire", "clickhouse_http")
    for case in (
        (t, "n_nationkey", {}, 3),
        (t, "n_nationkey", {"num_partitions": 2}, 2),
        (t, None, {}, 1),
    )
]


@pytest.mark.parametrize("type_,column,options,expected", _PARTITION_RULES)
def test_partition_rule(spark, type_, column, options, expected):
    table = {"name": "nation"}
    if column:
        table["partition_column"] = column
    cfg = parse_config({"sources": [
        _source(type_, table, options=options, max_concurrent_queries=3)
    ]}).sources[0]
    (view,) = register_source(spark, cfg)
    try:
        assert view == f"pr_{type_}_nation"
        assert spark.table(view).rdd.getNumPartitions() == expected
        assert REMOTE_TABLES[view].table == "nation"
    finally:
        REMOTE_TABLES.pop(view, None)
        spark.catalog.dropTempView(view)


@pytest.fixture(scope="module")
def sales_db(tmp_path_factory) -> str:
    """``sales.orders`` beside a ``main.orders`` that must never be read."""
    path = str(tmp_path_factory.mktemp("sales") / "shop.duckdb")
    con = duckdb.connect(path)
    con.execute("CREATE SCHEMA sales")
    con.execute("CREATE TABLE sales.orders AS SELECT * FROM "
                "(VALUES (1, 'sales'), (2, 'sales')) t(k, origin)")
    con.execute("CREATE TABLE main.orders AS SELECT * FROM (VALUES (1, 'main')) t(k, origin)")
    con.close()
    return path


@pytest.fixture()
def sales_views(spark):
    yield
    for view in ("sdk_orders", "spg_orders"):
        REMOTE_TABLES.pop(view, None)
        spark.catalog.dropTempView(view)


_SALES = [{"k": 1, "origin": "sales"}, {"k": 2, "origin": "sales"}]
_SALES_SQL = "SELECT k, origin FROM {view} WHERE k > 0 ORDER BY k"


def test_table_schema_duckdb(spark, sales_db, sales_views):
    """A declared ``schema:`` reads ``sales.orders`` in the registered
    scan and in a whole-pushed statement, never ``main.orders``."""
    from strake_spark.plans.federation import PushdownPlan, plan_sql

    eng = ss.connect({"sources": [{"name": "sdk", "type": "duckdb", "url": sales_db,
                                   "tables": [{"name": "orders", "schema": "sales"}]}]},
                     spark=spark)
    assert REMOTE_TABLES["sdk_orders"].schema == "sales"
    scan = spark.table("sdk_orders").orderBy("k").collect()
    assert [r.asDict() for r in scan] == _SALES
    sql = _SALES_SQL.format(view="sdk_orders")
    _df, plan = plan_sql(spark, sql)
    assert isinstance(plan, PushdownPlan)
    assert "sales.orders" in plan.rewritten_sql
    assert eng.execute(sql).to_pylist() == _SALES


def test_table_schema_named_like_the_duckdb_file(spark, tmp_path, sales_views):
    """DuckDB attaches ``sales.duckdb`` as catalog ``sales``, so schema
    ``sales`` is ambiguous: registration names the table and the
    ambiguity in a ``SourceError``, not a raw ``BinderException``."""
    from strake_spark.errors import SourceError

    path = str(tmp_path / "sales.duckdb")
    con = duckdb.connect(path)
    con.execute("CREATE SCHEMA sales.sales")
    con.execute("CREATE TABLE sales.sales.orders AS SELECT 1 AS k")
    con.close()
    with pytest.raises(SourceError, match=r"'orders'.*schema 'sales' is ambiguous"):
        ss.connect({"sources": [{"name": "sdk", "type": "duckdb", "url": path,
                                 "tables": [{"name": "orders", "schema": "sales"}]}]},
                   spark=spark)
    assert "sdk_orders" not in REMOTE_TABLES


def test_table_schema_wire(spark, sales_db, sales_views):
    """Every statement a wire source sends for a ``schema:`` table names
    it ``"sales"."orders"`` (pushed text: ``sales.orders``)."""
    pg = FakePg(sales_db, users={"alice": "s3cret"})
    threading.Thread(target=pg.serve_forever, daemon=True).start()
    try:
        eng = ss.connect({"sources": [{
            "name": "spg", "type": "postgres_wire",
            "url": f"postgresql://127.0.0.1:{pg.server_address[1]}/db",
            "username": "alice", "password": "s3cret",
            "tables": [{"name": "orders", "schema": "sales"}],
        }]}, spark=spark)
        scan = spark.table("spg_orders").orderBy("k").collect()
        assert [r.asDict() for r in scan] == _SALES
        assert eng.execute(_SALES_SQL.format(view="spg_orders")).to_pylist() == _SALES
    finally:
        pg.shutdown()
        pg.server_close()
    assert 'SELECT * FROM "sales"."orders" LIMIT 0' in pg.queries
    assert 'SELECT "k", "origin" FROM "sales"."orders"' in pg.queries
    assert any("FROM sales.orders" in q for q in pg.queries)  # the pushed statement
    assert all("sales" in q for q in pg.queries if "orders" in q)


class TestSchemaQualifiedPush:
    """A remote table with a namespace pushes as two identifiers."""

    @pytest.fixture()
    def views(self, spark):
        spark.createDataFrame([(1, 2)], "k long, a long").createOrReplaceTempView("sq_orders")
        spark.createDataFrame([(1,)], "k long").createOrReplaceTempView("sq_local")
        yield
        for v in ("sq_orders", "sq_local"):
            REMOTE_TABLES.pop(v, None)
            spark.catalog.dropTempView(v)

    def _remote(self, dialect: str) -> None:
        REMOTE_TABLES["sq_orders"] = RemoteTable(
            source="sq", dialect=dialect, url="fake://x", table="orders",
            schema="sales", push_query=lambda s, sql: s.table("sq_orders"),
        )

    def test_whole_statement(self, spark, views):
        from strake_spark.plans import federation

        self._remote("postgres")
        plan = federation.analyze("SELECT a FROM sq_orders WHERE a > 1")
        assert plan.rewritten_sql == "SELECT a FROM sales.orders WHERE (a > 1)"

    def test_strict_guard(self, spark, views):
        from strake_spark.governance.contracts import STRICT_VIEWS
        from strake_spark.plans import federation

        self._remote("postgres")
        STRICT_VIEWS["sq_orders"] = ("a",)
        try:
            plan = federation.analyze("SELECT a FROM sq_orders")
        finally:
            STRICT_VIEWS.pop("sq_orders", None)
        assert plan.rewritten_sql == "SELECT a FROM (SELECT a FROM sales.orders) AS sq_orders"

    @pytest.mark.parametrize("dialect,expected", [
        ("postgres", 'SELECT "a", "k" FROM "sales"."orders" WHERE ("a" > 1)'),
        ("mysql", "SELECT `a`, `k` FROM `sales`.`orders` WHERE (`a` > 1)"),
    ])
    def test_partial(self, spark, views, dialect, expected):
        from strake_spark.plans.partial import analyze_partial

        self._remote(dialect)
        _, plan = analyze_partial(
            spark,
            "SELECT o.a FROM sq_orders o JOIN sq_local l ON o.k = l.k WHERE o.a > 1",
        )
        (scan,) = plan.scans
        assert scan.remote_sql == expected


def test_only_registry_registers_datasources():
    """``registry.ensure_format`` memoizes registration per Spark
    context; a second call site would bypass it."""
    pkg = os.path.join(REPO_ROOT, "strake_spark")
    allowed = os.path.join(pkg, "sources", "registry.py")
    offenders = []
    for root, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == allowed:
                continue
            with open(path, encoding="utf-8") as fh:
                if "dataSource.register" in fh.read():
                    offenders.append(os.path.relpath(path, REPO_ROOT))
    assert offenders == []


def test_sql_sources_share_one_reader():
    """The five SQL-speaking sources read through ``pushsql.SqlSource``:
    none defines its own reader or partition type, or composes scan or
    range SQL itself."""
    forbidden = re.compile(r"class\s+\w+\([^)]*\b(?:DataSourceReader|InputPartition)\b"
                           r"|\b(?:plan_ranges|build_select)\(")
    offenders = []
    for name in ("duck", "sqlite", "pgwire", "mysqlwire", "clickhouse_http"):
        path = os.path.join(REPO_ROOT, "strake_spark", "sources", f"{name}.py")
        with open(path, encoding="utf-8") as fh:
            offenders += [f"{name}.py: {m.group(0)}" for m in forbidden.finditer(fh.read())]
    assert offenders == []
