"""RLS + masking policy tests (reference config/policies.yaml shape,
crates/common/src/auth.rs TableRules semantics)."""

from __future__ import annotations

import pytest

import strake_spark as ss
from strake_spark.governance.policies import parse_policies, rename_tables
from tests.conftest import SF_DIR, reference_file


@pytest.fixture(scope="module")
def gov_engine(spark):
    return ss.connect(
        {
            "sources": [
                {
                    "name": "g",
                    "type": "parquet",
                    "url": SF_DIR,
                    "tables": [{"name": "customer"}, {"name": "orders"}],
                }
            ],
            "policies": {
                "roles": {
                    "analyst": {
                        "tables": {
                            "g_customer": {
                                "rls_filter": "c_nationkey = 1",
                                "masking": {"c_name": "'***MASKED***'"},
                            }
                        }
                    },
                    "eu_only": {
                        "tables": {
                            "g_customer": {"rls_filter": "c_custkey < 500"}
                        }
                    },
                },
                "users": {
                    "alice": ["analyst"],
                    "bob": [],
                    "carol": ["analyst", "eu_only"],
                },
            },
        },
        spark=spark,
    )


class TestRename:
    def test_quote_aware(self):
        out = rename_tables(
            "SELECT * FROM g_customer WHERE c_name = 'g_customer'",
            {"g_customer": "g_customer__rls_analyst"},
        )
        assert out.count("g_customer__rls_analyst") == 1
        assert "'g_customer'" in out

    def test_identifier_boundaries(self):
        out = rename_tables(
            "SELECT * FROM g_customer_ext JOIN g_customer ON 1=1",
            {"g_customer": "X"},
        )
        assert "g_customer_ext" in out and " X ON" in out


class TestEnforcement:
    def test_rls_filter_applied(self, gov_engine, spark):
        all_rows = spark.table("g_customer").count()
        nation1 = spark.sql(
            "SELECT count(*) AS n FROM g_customer WHERE c_nationkey = 1"
        ).collect()[0].n
        got = gov_engine.sql("SELECT count(*) AS n FROM g_customer", user="alice")
        assert got.collect()[0].n == nation1 < all_rows

    def test_masking_applied(self, gov_engine):
        rows = gov_engine.sql(
            "SELECT c_name FROM g_customer LIMIT 5", user="alice"
        ).collect()
        assert rows and all(r.c_name == "***MASKED***" for r in rows)

    def test_ungoverned_user_sees_all(self, gov_engine, spark):
        got = gov_engine.sql("SELECT count(*) AS n FROM g_customer", user="bob")
        assert got.collect()[0].n == spark.table("g_customer").count()

    def test_anonymous_sees_all(self, gov_engine, spark):
        got = gov_engine.sql("SELECT count(*) AS n FROM g_customer")
        assert got.collect()[0].n == spark.table("g_customer").count()

    def test_multi_role_filters_and_compose(self, gov_engine, spark):
        expect = spark.sql(
            "SELECT count(*) AS n FROM g_customer "
            "WHERE c_nationkey = 1 AND c_custkey < 500"
        ).collect()[0].n
        got = gov_engine.sql("SELECT count(*) AS n FROM g_customer", user="carol")
        assert got.collect()[0].n == expect

    def test_unpolicied_table_untouched(self, gov_engine, spark):
        got = gov_engine.sql("SELECT count(*) AS n FROM g_orders", user="alice")
        assert got.collect()[0].n == spark.table("g_orders").count()

    def test_join_through_policy(self, gov_engine, spark):
        expect = spark.sql(
            "SELECT count(*) AS n FROM g_orders o JOIN g_customer c "
            "ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = 1"
        ).collect()[0].n
        got = gov_engine.sql(
            "SELECT count(*) AS n FROM g_orders o JOIN g_customer c "
            "ON o.o_custkey = c.c_custkey",
            user="alice",
        )
        assert got.collect()[0].n == expect

    def test_cte_shadowing_stays_consistent(self, gov_engine, spark):
        # a CTE named like the policied table shadows it; consistent
        # renaming must keep the query self-consistent (CTE wins)
        got = gov_engine.sql(
            "WITH g_customer AS (SELECT 1 AS x) SELECT count(*) AS n FROM g_customer",
            user="alice",
        )
        assert got.collect()[0].n == 1

    def test_rls_not_bypassed_by_federation_pushdown(self, spark, tmp_path):
        """A policied user's query over a remote SQL source must route
        through the secured view (local plan), never push the raw table
        reference into the remote engine."""
        import duckdb as ddb

        dbpath = str(tmp_path / "sec.duckdb")
        con = ddb.connect(dbpath)
        con.execute("CREATE TABLE accounts AS SELECT range AS id, range * 10 AS bal "
                    "FROM range(100)")
        con.close()
        eng = ss.connect(
            {
                "sources": [{"name": "rdb", "type": "duckdb", "url": dbpath}],
                "policies": {
                    "roles": {"low": {"tables": {"rdb_accounts": {
                        "rls_filter": "id < 10"}}}},
                    "users": {"zed": ["low"]},
                },
            },
            spark=spark,
        )
        # ungoverned query IS pushed to duckdb
        assert eng.sql("SELECT count(*) AS n FROM rdb_accounts").collect()[0].n == 100
        assert eng._last_pushdown is not None
        # governed query: secured view forces local plan; rows filtered
        n = eng.sql("SELECT count(*) AS n FROM rdb_accounts", user="zed").collect()[0].n
        assert n == 10
        assert eng._last_pushdown is None

    def test_secured_view_of_another_role_is_refused(self, spark):
        """A principal of role r1 must not read role r2's rows by naming
        r2's secured view: a principal's statement naming any
        ``<table>__rls_`` view is refused with a coded rejection, quoted
        or not, and also when DuckDB cannot parse it (``DISTRIBUTE BY``
        is Spark-only); the name inside a string literal is data."""
        from strake_spark.errors import ErrorCode, QueryRejected

        eng = ss.connect(
            {
                "sources": [{"name": "lc", "type": "parquet", "url": SF_DIR,
                             "tables": [{"name": "customer"}]}],
                "policies": {
                    "roles": {
                        "r1": {"tables": {"lc_customer": {"rls_filter": "c_nationkey = 1"}}},
                        "r2": {"tables": {"lc_customer": {"rls_filter": "c_nationkey = 2"}}},
                    },
                    "users": {"alice": ["r1"], "bob": ["r2"]},
                },
            },
            spark=spark,
        )
        q = "SELECT DISTINCT c_nationkey FROM lc_customer"
        assert eng.execute(q, user="bob").to_pylist() == [{"c_nationkey": 2}]
        assert eng.execute(q, user="alice").to_pylist() == [{"c_nationkey": 1}]
        # each of these reads another role's rows, or all rows, in Spark
        leaks = (
            # a quote inside a comment, a double-quoted string or after a
            # backslash escape opens no literal for Spark
            "SELECT DISTINCT c_nationkey FROM /*'*/ lc_customer__rls_r2 /*'*/",
            "SELECT DISTINCT \"'\" AS a, c_nationkey FROM lc_customer__rls_r2 WHERE \"'\" = \"'\"",
            "SELECT DISTINCT 'a\\'' AS x, c_nationkey FROM lc_customer__rls_r2 WHERE '\\'' <> 'b'",
            "SELECT DISTINCT c_nationkey FROM /* /* */ ' */ lc_customer__rls_r2 -- '",
            # IDENTIFIER() names a table by a string no rename follows
            "SELECT DISTINCT c_nationkey FROM IDENTIFIER('lc_customer__rls_r2')",
            "SELECT DISTINCT c_nationkey FROM IDENTIFIER /**/ ('lc_customer')",
        )
        for stmt in leaks:
            assert eng.execute(stmt).num_rows > 0, stmt
        for stmt in (
            "SELECT DISTINCT c_nationkey FROM lc_customer__rls_r2",
            "SELECT DISTINCT c_nationkey FROM `LC_CUSTOMER__RLS_R2`",
            "SELECT c_nationkey FROM default.lc_customer__rls_r2 DISTRIBUTE BY c_nationkey",
        ) + leaks:
            for user in ("alice", "bob", "mallory"):  # mallory has no roles
                with pytest.raises(QueryRejected) as e:
                    eng.execute(stmt, user=user)
                assert e.value.code == ErrorCode.AUTHORIZATION_DENIED
        lit = "SELECT count(*) AS n FROM lc_customer WHERE c_name <> 'lc_customer__rls_r2'"
        assert eng.execute(lit, user="alice").to_pylist() == eng.execute(
            "SELECT count(*) AS n FROM lc_customer WHERE c_nationkey = 1").to_pylist()
        # the rename reads comments as Spark does, too
        hidden = "SELECT DISTINCT c_nationkey FROM /*'*/ lc_customer /*'*/"
        assert eng.execute(hidden, user="alice").to_pylist() == [{"c_nationkey": 1}]

    def test_secured_views_follow_a_reregistered_source(self, spark, tmp_path):
        """A secured view captures its base view's plan when created: after
        the source is registered again over other data, the governed
        principal must read the new data, as everyone else does."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        for sub, ks in (("a", [1, 2, 3]), ("b", [10, 20, 30, 40])):
            (tmp_path / sub).mkdir()
            pq.write_table(pa.table({"k": ks}), tmp_path / sub / "t.parquet")
        eng = ss.connect(
            {
                "sources": [{"name": "rr", "type": "parquet", "url": str(tmp_path / "a"),
                             "tables": [{"name": "t"}]}],
                "policies": {
                    "roles": {"r": {"tables": {"rr_t": {"rls_filter": "k > 1"}}}},
                    "users": {"u": ["r"]},
                },
            },
            spark=spark,
        )
        q = "SELECT sum(k) AS s FROM rr_t"
        assert eng.execute(q, user="u").to_pylist() == [{"s": 5}]
        src = eng.config.sources[0]
        src.url = str(tmp_path / "b")
        eng.register(src)
        assert eng.execute(q).to_pylist() == [{"s": 100}]
        assert eng.execute(q, user="u").to_pylist() == [{"s": 100}]

    def test_parse_shape(self):
        p = parse_policies(
            {
                "roles": {"r": {"tables": {"t": {"rls_filter": "x > 1",
                                                 "masking": {"c": "'x'"}}}}},
                "users": {"u": ["r"]},
            }
        )
        assert p.enabled and p.roles["r"]["t"].rls_filter == "x > 1"
        assert parse_policies(None).enabled is False


class TestReferencePoliciesShape:
    """config/policies.yaml spells roles/users as LISTS with
    name/policies[].resource and id/roles — both spellings must parse."""

    def test_reference_yaml_parses_verbatim(self):
        import yaml

        from strake_spark.governance.policies import parse_policies

        raw = yaml.safe_load(open(reference_file("config/policies.yaml")))
        cfg = parse_policies(raw)
        assert set(cfg.roles) == {"analyst", "admin"}
        analyst = cfg.roles["analyst"]
        assert set(analyst) == {"strake_public_orders", "strake_public_lineitem"}
        assert analyst["strake_public_orders"].rls_filter == "o_custkey < 1000"
        assert analyst["strake_public_orders"].masking == {"o_orderpriority": "MASK"}
        assert cfg.roles["admin"] == {}  # wildcard, null rules = unrestricted
        assert cfg.users == {"user_123": ["analyst"],
                             "admin_user": ["admin", "analyst"]}

    def test_wildcard_with_rules_is_loud(self):
        from strake_spark.governance.policies import parse_policies

        with pytest.raises(ValueError, match="wildcard"):
            parse_policies({"roles": [{"name": "r", "policies": [
                {"resource": "*", "rls_filter": "1=1"}]}]})

    def test_list_shape_enforces_end_to_end(self, spark):
        import strake_spark as ss
        from tests.conftest import SF_DIR

        eng = ss.connect({
            "sources": [{"name": "pl", "type": "parquet", "url": SF_DIR,
                         "tables": [{"name": "nation"}]}],
            "policies": {
                "roles": [{"name": "regional", "policies": [
                    {"resource": "pl.nation", "action": "SELECT",
                     "rls_filter": "n_regionkey = 0"}]}],
                "users": [{"id": "pat", "roles": ["regional"]}],
            },
        }, spark=spark)
        assert eng.execute("SELECT count(*) AS n FROM pl_nation",
                           user="pat").to_pylist() == [{"n": 5}]
        assert eng.execute("SELECT count(*) AS n FROM pl_nation").to_pylist() == [{"n": 25}]
