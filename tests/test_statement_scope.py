"""Pushed relations live for one statement (plans/binding.py).

A shipped subtree, a pushed scan and a pruned iceberg scan are named
only while Spark analyzes their statement. So the session catalog, the
information schema and the search index list registered views only, no
principal can name a relation another statement pushed, and two threads
can run one prepared statement at once."""

from __future__ import annotations

import os
import sys
import threading

import duckdb
import pytest

import strake_spark as ss
from strake_spark.cache import plan_fingerprint
from strake_spark.plans.binding import bound
from strake_spark.plans.iceberg_prune import IcebergPrunePlan
from strake_spark.plans.partial import PartialPlan
from tests.conftest import REPO_ROOT, SF_DIR
from tests.test_source_iceberg_native import part_table  # noqa: F401 - fixture

PARTIAL = (
    "SELECT c.c_name, n.n_name FROM sc_customer c "
    "JOIN lc_nation n ON c.c_nationkey = n.n_nationkey WHERE c.c_acctbal > {bal}"
)
SUBTREE = (
    "WITH a AS (SELECT c_nationkey, count(*) AS cnt FROM sc_customer "
    "WHERE c_acctbal > {bal} GROUP BY c_nationkey) "
    "SELECT n.n_name, a.cnt FROM a JOIN lc_nation n ON a.c_nationkey = n.n_nationkey"
)
PRUNED = "SELECT id FROM ic_events_part WHERE region = '{region}' AND id > {k}"
# each plans a pushed relation, then fails to resolve
FAILING = (
    PARTIAL.replace("n.n_name", "n.no_such_column").format(bal=9000),
    SUBTREE.replace("a.cnt", "a.no_such_column").format(bal=9000),
    PRUNED.replace("SELECT id", "SELECT no_such_column").format(region="eu", k=0),
)


@pytest.fixture(scope="module")
def scoped(spark, part_table, tmp_path_factory):  # noqa: F811 - fixture
    """DuckDB remote customer (row-filtered and masked for alice), local
    parquet nation and a partitioned iceberg_native table."""
    dpath = str(tmp_path_factory.mktemp("scope") / "scope.duckdb")
    con = duckdb.connect(dpath)
    con.execute(f"CREATE TABLE customer AS SELECT * FROM read_parquet('{SF_DIR}/customer.parquet')")
    con.close()
    return ss.connect(
        {
            "sources": [
                {"name": "sc", "type": "duckdb", "url": dpath},
                {"name": "lc", "type": "parquet", "url": SF_DIR,
                 "tables": [{"name": "nation"}]},
                {"name": "ic", "type": "iceberg_native", "url": os.path.dirname(part_table),
                 "tables": [{"name": "events_part", "path": part_table}]},
            ],
            "policies": {
                "roles": {"analyst": {"tables": {"sc_customer": {
                    "rls_filter": "c_nationkey = 1",
                    "masking": {"c_name": "'***'"},
                }}}},
                "users": {"alice": ["analyst"]},
            },
        },
        spark=spark,
    )


def _catalog(spark) -> list[str]:
    return sorted(t.name for t in spark.catalog.listTables())


def _rows(table) -> list[tuple]:
    return sorted(tuple(r.values()) for r in table.to_pylist())


def _oracle(spark, sql) -> list[tuple]:
    """The statement run on Spark over the registered views, no ladder."""
    return sorted(tuple(r) for r in spark.sql(sql).collect())


def _statements():
    """Distinct statements of each pushing rung, with the plan each gets."""
    for bal in (9000, 9100):
        yield PARTIAL.format(bal=bal), "strake_pushed_"
        yield SUBTREE.format(bal=bal), "strake_sub_"
    for region, k in (("eu", 0), ("us", 5)):
        yield PRUNED.format(region=region, k=k), "strake_iceprune_"


class TestCatalog:
    def test_every_surface_leaves_the_catalog_as_it_was(self, scoped):
        spark = scoped.spark
        before = _catalog(spark)
        for sql, prefix in _statements():
            scoped.execute(sql)
            prep = scoped.prepare(sql)
            names = {s.temp_view for s in prep.pushdown.scans}
            assert any(n.startswith(prefix) for n in names), (sql, names)
            assert _rows(scoped.execute(sql, prepared=prep)) == _oracle(spark, sql)
            assert "[P" in scoped.explain_tree(sql)  # [PUSHED ...] or [PRUNED]
            assert scoped.trace(sql)["pushed_remote_sql"]
        for sql in FAILING:
            with pytest.raises(Exception, match="no_such_column"):
                scoped.execute(sql)
        assert _catalog(spark) == before

    def test_information_schema_and_search_list_registered_views(self, scoped):
        from strake_spark.discovery import SchemaIndex

        spark = scoped.spark
        registered = {n for n in _catalog(spark) if not n.startswith("information_schema_")}
        assert {"sc_customer", "lc_nation", "ic_events_part"} <= registered
        for sql, _ in _statements():
            scoped.execute(sql)
        scoped.register_information_schema()
        tables = {r.table_name for r in spark.table("information_schema_tables").collect()}
        assert tables == registered
        columns = {r.table_name for r in spark.table("information_schema_columns").collect()}
        assert columns <= registered
        index = SchemaIndex(spark)
        index.rebuild()
        hits = {h.table for h in index.search("c_acctbal")}
        assert "sc_customer" in hits and hits <= registered


class TestGovernance:
    def test_masked_principal_cannot_name_pushed_relations(self, scoped):
        """alice reads sc_customer row-filtered with c_name masked; a
        relation another statement pushed must not be a way around that."""
        names = []
        for sql in (PARTIAL.format(bal=9000), SUBTREE.format(bal=9000)):
            prep = scoped.prepare(sql)
            scoped.execute(sql, prepared=prep)
            names += [s.temp_view for s in prep.pushdown.scans]
        own = scoped.execute("SELECT c_name, c_nationkey FROM sc_customer", user="alice")
        assert set(own.column("c_name").to_pylist()) == {"***"}
        assert set(own.column("c_nationkey").to_pylist()) == {1}
        for name in names:
            with pytest.raises(Exception, match=name):
                scoped.execute(f"SELECT * FROM {name}", user="alice")


class TestRebind:
    def test_threads_run_one_prepared_statement(self, scoped):
        """Each execute rebinds the plan's fixed names around its own
        in-memory fragment; the rebinds of one plan are serialized. More
        threads than cores, with a short switch interval, make a lost
        rebind (a name dropped under another thread's analysis) show."""
        spark = scoped.spark
        sqls = (PARTIAL.format(bal=9500), SUBTREE.format(bal=9500))
        preps = {sql: scoped.prepare(sql) for sql in sqls}
        assert all(isinstance(p.pushdown, PartialPlan) for p in preps.values())
        oracle = {sql: _oracle(spark, sql) for sql in sqls}
        before = _catalog(spark)
        errors: list[Exception] = []

        def run(sql):
            try:
                for _ in range(4):
                    assert _rows(scoped.execute(sql, prepared=preps[sql])) == oracle[sql]
            except Exception as e:  # noqa: BLE001 - reported below
                errors.append(e)

        per_sql = (os.cpu_count() or 2) // 2 + 1  # cores + 2 threads in all
        threads = [threading.Thread(target=run, args=(sql,)) for sql in sqls for _ in range(per_sql)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        assert _catalog(spark) == before

    def test_literal_with_braces_and_view_like_names_kept(self, scoped):
        tag = "{strake_pushed_0} {sc_customer} }{ strake_sub_1 {}"
        sql = (
            f"SELECT c.c_custkey, '{tag}' AS tag FROM sc_customer c "
            "JOIN lc_nation n ON c.c_nationkey = n.n_nationkey WHERE c.c_acctbal > 9900"
        )
        prep = scoped.prepare(sql)
        assert isinstance(prep.pushdown, PartialPlan)
        out = scoped.execute(sql, prepared=prep)
        assert out.num_rows > 0
        assert set(out.column("tag").to_pylist()) == {tag}

    def test_pruned_scan_runs_after_its_name_is_gone(self, scoped):
        sql = PRUNED.format(region="eu", k=0)
        prep = scoped.prepare(sql)
        plan = prep.pushdown
        assert isinstance(plan, IcebergPrunePlan)
        ((name, df),) = plan.relations.items()
        assert not scoped.spark.catalog.tableExists(name)
        assert len(df.inputFiles()) == 2
        assert _rows(scoped.execute(sql, prepared=prep)) == [(1,), (2,), (3,), (4,)]


class TestBinder:
    def test_names_live_for_the_block_only(self, spark):
        df = spark.range(3)
        with pytest.raises(RuntimeError):
            with bound(spark, {"strake_scope_a": df}) as binding:
                binding.bind("strake_scope_b", df)
                q = spark.sql(
                    "SELECT a.id * 2 AS x FROM strake_scope_a a JOIN strake_scope_b b USING (id)"
                )
                raise RuntimeError("the block fails")
        assert not spark.catalog.tableExists("strake_scope_a")
        assert not spark.catalog.tableExists("strake_scope_b")
        assert sorted(r.x for r in q.collect()) == [0, 2, 4]

    def test_fingerprint_ignores_the_bound_name(self, spark):
        df = spark.range(5).selectExpr("id", "id % 2 AS k")
        keys = []
        for name in ("strake_scope_x", "strake_scope_y"):
            with bound(spark, {name: df}):
                q = spark.sql(f"SELECT k, count(*) AS n FROM {name} GROUP BY k")
            keys.append(plan_fingerprint(q, None))
        assert keys[0] == keys[1]


def test_only_the_binder_creates_or_drops_views_in_plans_and_engine():
    """Pushed relations get one lifetime rule: plans/ and the engine bind
    them through plans/binding.py and never touch the catalog directly."""
    pkg = os.path.join(REPO_ROOT, "strake_spark")
    allowed = os.path.join(pkg, "plans", "binding.py")
    paths = [os.path.join(pkg, "engine.py")] + [
        os.path.join(pkg, "plans", f) for f in sorted(os.listdir(os.path.join(pkg, "plans")))
        if f.endswith(".py")
    ]
    offenders = []
    for path in paths:
        if path == allowed:
            continue
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        if "createOrReplaceTempView" in text or "dropTempView" in text:
            offenders.append(os.path.relpath(path, REPO_ROOT))
    assert offenders == []
