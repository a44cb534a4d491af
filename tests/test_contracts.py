"""Data contracts (reference config/contracts.yaml +
models.rs:142-183): schema validation, one-scan row-rule checks, and
strict closed-schema enforcement."""

from __future__ import annotations

import pytest

import strake_spark as ss
from strake_spark.governance.contracts import (
    Contract,
    ContractColumn,
    Constraint,
    parse_contracts,
    validate_data,
    validate_schema,
)
from tests.conftest import SF_DIR


def _cfg(contracts):
    return {
        "sources": [
            {
                "name": "k",
                "type": "parquet",
                "url": SF_DIR,
                "tables": [{"name": "orders"}, {"name": "lineitem"}],
            }
        ],
        "contracts": {"contracts": contracts},
    }


class TestParse:
    def test_reference_yaml_shape(self):
        cfg = parse_contracts(
            {
                "contracts": [
                    {
                        "table": "pg.orders",
                        "strict": True,
                        "columns": [
                            {"name": "o_orderkey", "type": "integer"},
                            {
                                "name": "o_totalprice",
                                "type": "decimal",
                                "constraints": [{"type": "gt", "value": 0}],
                            },
                        ],
                    }
                ]
            }
        )
        c = cfg.contracts[0]
        assert c.table == "pg.orders" and c.strict
        assert c.columns[1].constraints[0] == Constraint(type="gt", value=0)

    def test_empty_is_none(self):
        assert parse_contracts(None) is None
        assert parse_contracts({}) is None


class TestSchemaValidation:
    def test_clean_contract(self, spark):
        eng = ss.connect(_cfg([
            {"table": "k.orders", "columns": [
                {"name": "o_orderkey", "type": "bigint"},
                {"name": "o_totalprice", "type": "double"},
                {"name": "o_orderdate", "type": "timestamp"},
            ]}
        ]), spark=spark)
        rep = eng.validate_contracts(check_data=False)
        assert rep["valid"] and rep["errors"] == []

    def test_missing_and_mistyped(self, spark):
        ss.connect(_cfg([]), spark=spark)  # register views
        errs = validate_schema(
            spark,
            Contract(table="k.orders", columns=(
                ContractColumn(name="no_such", data_type="integer"),
                ContractColumn(name="o_orderpriority", data_type="integer"),
            )),
        )
        assert any("missing" in e for e in errs)
        assert any("declared integer, live type string" in e for e in errs)

    def test_strict_extra_columns_flagged(self, spark):
        ss.connect(_cfg([]), spark=spark)
        errs = validate_schema(
            spark,
            Contract(table="k.orders", strict=True, columns=(
                ContractColumn(name="o_orderkey", data_type="bigint"),
            )),
        )
        assert any("not in the strict contract" in e for e in errs)


class TestDataRules:
    def test_single_scan_counts(self, spark):
        ss.connect(_cfg([]), spark=spark)
        contract = Contract(table="k.lineitem", columns=(
            ContractColumn(name="l_quantity", data_type="double", constraints=(
                Constraint(type="between", value={"min": 0, "max": 100}),
            )),
            ContractColumn(name="l_returnflag", data_type="string", constraints=(
                Constraint(type="in", value=["R", "A", "N"]),
            )),
            ContractColumn(name="l_extendedprice", data_type="double", constraints=(
                Constraint(type="gt", value=10_000_000),  # deliberately violated
            )),
            ContractColumn(name="l_orderkey", data_type="bigint", nullable=False),
        ))
        counts = validate_data(spark, contract)
        assert counts["l_quantity/between"] == 0
        assert counts["l_returnflag/in"] == 0
        assert counts["l_extendedprice/gt"] > 0
        assert counts["l_orderkey/not_null"] == 0

    def test_report_flags_violations(self, spark):
        eng = ss.connect(_cfg([
            {"table": "k.lineitem", "columns": [
                {"name": "l_quantity", "type": "double",
                 "constraints": [{"type": "lt", "value": 1}]},
            ]}
        ]), spark=spark)
        rep = eng.validate_contracts()
        assert not rep["valid"]
        assert rep["data_violations"]["k.lineitem"]["l_quantity/lt"] > 0

    def test_unknown_constraint_rejected(self, spark):
        ss.connect(_cfg([]), spark=spark)
        with pytest.raises(ValueError, match="unknown constraint"):
            validate_data(spark, Contract(table="k.orders", columns=(
                ContractColumn(name="o_orderkey", data_type="bigint",
                               constraints=(Constraint(type="frobnicate"),)),
            )))


class TestStrictEnforcement:
    def test_unlisted_column_query_fails(self, spark):
        eng = ss.connect(_cfg([
            {"table": "k.orders", "strict": True, "columns": [
                {"name": "o_orderkey", "type": "bigint"},
                {"name": "o_totalprice", "type": "double"},
            ]}
        ]), spark=spark)
        # listed columns work
        assert eng.sql("SELECT o_orderkey, o_totalprice FROM k_orders").count() > 0
        # unlisted column -> analysis error (closed schema)
        with pytest.raises(Exception, match="o_orderpriority|UNRESOLVED"):
            eng.sql("SELECT o_orderpriority FROM k_orders").collect()

    def test_non_strict_table_unaffected(self, spark):
        eng = ss.connect(_cfg([
            {"table": "k.orders", "strict": False, "columns": [
                {"name": "o_orderkey", "type": "bigint"},
            ]}
        ]), spark=spark)
        assert eng.sql("SELECT o_orderpriority FROM k_orders").count() > 0


class TestStrictContractFederation:
    """Strict (closed-schema) contracts must hold when federation
    pushdown fires: every rung that ships SQL referencing a strict
    table must reference the remote physical table only through an
    inline subquery projecting the declared columns (r7 advice, high).
    Without the guard, pushdown exposed every remote column — the
    normal case for remote tables like the reference's 'pg.orders'
    contract example."""

    DECLARED = ["o_orderkey", "o_custkey", "o_totalprice"]

    @pytest.fixture()
    def fed_strict(self, spark, tmp_path):
        import duckdb

        dpath = str(tmp_path / "strict.duckdb")
        con = duckdb.connect(dpath)
        con.execute(
            f"CREATE TABLE orders AS SELECT * FROM read_parquet('{SF_DIR}/orders.parquet')"
        )
        con.close()
        eng = ss.connect(
            {
                "sources": [
                    {"name": "pg", "type": "duckdb", "url": dpath},
                    {"name": "loc", "type": "parquet", "url": SF_DIR,
                     "tables": [{"name": "customer"}]},
                ],
                "contracts": {"contracts": [
                    {"table": "pg.orders", "strict": True, "columns": [
                        {"name": c, "type": "bigint" if c != "o_totalprice" else "double"}
                        for c in self.DECLARED
                    ]}
                ]},
            },
            spark=spark,
        )
        yield eng
        from strake_spark.governance.contracts import STRICT_VIEWS
        from strake_spark.sources.registry import REMOTE_TABLES

        REMOTE_TABLES.pop("pg_orders", None)
        STRICT_VIEWS.pop("pg_orders", None)

    def test_pushed_sql_carries_projection_guard(self, fed_strict):
        from strake_spark.plans import federation

        plan = federation.analyze(
            "SELECT count(*) AS n, sum(o_totalprice) AS t "
            "FROM pg_orders WHERE o_orderkey > 100"
        )
        assert plan is not None  # declared-column queries still push
        s = plan.rewritten_sql.lower().replace('"', "")
        assert "select o_orderkey, o_custkey, o_totalprice from orders" in s

    def test_unlisted_column_fails_even_when_pushed(self, fed_strict):
        # o_orderpriority EXISTS in the physical remote table but is not
        # declared — without the pushdown guard this succeeded whenever
        # pushdown fired. The remote engine must reject it (and the
        # local fallback rejects it too — failure either way)
        with pytest.raises(Exception, match="o_orderpriority"):
            fed_strict.execute(
                "SELECT o_orderpriority FROM pg_orders WHERE o_orderkey > 0"
            ).to_pandas()

    def test_select_star_pushed_matches_embedded_shape(self, fed_strict):
        out = fed_strict.execute(
            "SELECT * FROM pg_orders WHERE o_orderkey <= 50"
        ).to_pandas()
        assert sorted(out.columns) == sorted(self.DECLARED)

    def test_declared_query_values_match_local(self, fed_strict):
        import duckdb

        out = fed_strict.execute(
            "SELECT o_custkey, count(*) AS n FROM pg_orders "
            "GROUP BY o_custkey ORDER BY o_custkey"
        ).to_pandas()
        exp = duckdb.connect().execute(
            f"SELECT o_custkey, CAST(count(*) AS BIGINT) AS n "
            f"FROM read_parquet('{SF_DIR}/orders.parquet') "
            "GROUP BY o_custkey ORDER BY o_custkey"
        ).df()
        assert out["o_custkey"].astype(int).tolist() == exp["o_custkey"].astype(int).tolist()
        assert out["n"].astype(int).tolist() == exp["n"].astype(int).tolist()

    def test_reregistration_clears_stale_guard(self, fed_strict, spark, tmp_path):
        """A second engine registering the SAME view name WITHOUT a
        strict contract must not inherit the first engine's pushdown
        projection (the registries are process-global)."""
        import duckdb

        from strake_spark.governance.contracts import STRICT_VIEWS
        from strake_spark.plans import federation

        assert "pg_orders" in STRICT_VIEWS  # first engine's guard is live
        dpath = str(tmp_path / "unguarded.duckdb")
        con = duckdb.connect(dpath)
        con.execute(
            f"CREATE TABLE orders AS SELECT * FROM read_parquet('{SF_DIR}/orders.parquet')"
        )
        con.close()
        eng2 = ss.connect(
            {"sources": [{"name": "pg", "type": "duckdb", "url": dpath}]},
            spark=spark,
        )
        assert "pg_orders" not in STRICT_VIEWS
        plan = federation.analyze("SELECT count(*) AS n FROM pg_orders")
        assert plan is not None
        assert "o_orderkey" not in plan.rewritten_sql  # no stale projection
        out = eng2.execute(
            "SELECT o_orderpriority FROM pg_orders LIMIT 1"
        ).to_pandas()
        assert list(out.columns) == ["o_orderpriority"]  # undeclared column works again

    def test_guard_respelled_for_target_dialect(self, spark):
        """The projecting subquery rides the same dialect pipeline as
        the rest of the statement — MySQL's identifier quoting must
        reach it (a DuckDB-quoted guard would be a remote syntax
        error, silently demoting every strict-table query to local)."""
        from strake_spark.governance.contracts import STRICT_VIEWS
        from strake_spark.plans import federation
        from strake_spark.sources.registry import REMOTE_TABLES, RemoteTable

        spark.createDataFrame(
            [(1, "a", 2.0)], "k long, name string, v double"
        ).createOrReplaceTempView("mz_t")
        REMOTE_TABLES["mz_t"] = RemoteTable(
            source="mz", dialect="mysql", url="fake://x", table="t",
            push_query=lambda s, sql: s.table("mz_t"),
        )
        STRICT_VIEWS["mz_t"] = ("k", "name")
        try:
            plan = federation.analyze("SELECT count(*) AS n FROM mz_t WHERE k > 0")
            assert plan is not None
            s = plan.rewritten_sql
            # the guard subquery ships, projecting only declared columns
            assert "(SELECT k, `name` FROM t) AS mz_t" in s
            assert '"' not in s  # no DuckDB quoting survives for MySQL
            assert " v" not in s and "`v`" not in s  # undeclared column hidden
        finally:
            REMOTE_TABLES.pop("mz_t", None)
            STRICT_VIEWS.pop("mz_t", None)

    def test_partial_rung_projects_declared_only(self, fed_strict):
        """The partial rung enforces strict contracts STRUCTURALLY: its
        column authority is spark.table() (the registered view, which a
        strict contract already narrows to the declared columns), not
        the remote catalog — see plans/partial.py. Pin that: a mixed
        remote+local join must ship a pg_orders scan that projects a
        subset of the declared set, never a physical-only column."""
        from strake_spark.plans.federation import plan_sql
        from strake_spark.plans.partial import PartialPlan

        sql = (
            "SELECT o.o_totalprice, c.c_name FROM pg_orders o "
            "JOIN loc_customer c ON o.o_custkey = c.c_custkey "
            "WHERE o.o_orderkey > 100"
        )
        df, plan = plan_sql(fed_strict.spark, sql)
        assert isinstance(plan, PartialPlan)
        (scan,) = [s for s in plan.scans if s.view == "pg_orders"]
        shipped = scan.remote_sql.lower().replace('"', "")
        cols = shipped.split("from")[0]
        assert "o_orderpriority" not in cols  # physical but undeclared
        for c in ("o_totalprice", "o_custkey", "o_orderkey"):
            assert c in cols
        assert df.count() > 0

    def test_partial_rung_star_expands_to_declared(self, fed_strict):
        """SELECT * through the partial rung expands from the Spark
        view's schema, i.e. exactly the declared columns — a refactor
        that reads the remote catalog instead would leak every
        physical column here."""
        from strake_spark.plans.federation import plan_sql
        from strake_spark.plans.partial import PartialPlan

        sql = (
            "SELECT * FROM pg_orders o "
            "JOIN loc_customer c ON o.o_custkey = c.c_custkey "
            "WHERE o.o_orderkey <= 50"
        )
        df, plan = plan_sql(fed_strict.spark, sql)
        if plan is not None and isinstance(plan, PartialPlan):
            pg = [s for s in plan.scans if s.view == "pg_orders"]
            if pg:
                cols = pg[0].remote_sql.lower().replace('"', "").split("from")[0]
                assert "o_orderpriority" not in cols
                for c in self.DECLARED:
                    assert c in cols
        # regardless of which rung fired, the surfaced schema is closed
        order_cols = [c for c in df.columns if c.startswith("o_")]
        assert sorted(order_cols) == sorted(self.DECLARED)

    def test_partial_rung_undeclared_column_fails(self, fed_strict):
        with pytest.raises(Exception, match="o_orderpriority"):
            fed_strict.execute(
                "SELECT o.o_orderpriority FROM pg_orders o "
                "JOIN loc_customer c ON o.o_custkey = c.c_custkey"
            ).to_pandas()

    def test_subtree_ship_carries_guard(self, fed_strict):
        from strake_spark.plans.subtree import analyze_subtrees

        st = analyze_subtrees(
            fed_strict.spark,
            """WITH agg AS (
                 SELECT o_custkey, count(*) AS n FROM pg_orders GROUP BY o_custkey
               )
               SELECT count(*) AS total
               FROM agg JOIN loc_customer c ON agg.o_custkey = c.c_custkey""",
        )
        assert st is not None and len(st.scans) == 1
        s = st.scans[0].remote_sql.lower().replace('"', "")
        assert "select o_orderkey, o_custkey, o_totalprice from orders" in s


class TestCliValidate:
    def _write(self, tmp_path, contracts):
        import json
        p = tmp_path / "cfg.json"
        p.write_text(json.dumps({
            "sources": [{"name": "k", "type": "parquet", "url": str(SF_DIR),
                         "tables": [{"name": "orders"}]}],
            "contracts": {"contracts": contracts},
        }))
        return str(p)

    def test_validate_ok(self, tmp_path, capsys):
        from strake_spark.cli import main
        cfg = self._write(tmp_path, [
            {"table": "k.orders", "columns": [{"name": "o_orderkey", "type": "bigint"}]}
        ])
        assert main(["validate", cfg]) == 0
        out = capsys.readouterr().out
        assert "1 contracts" in out

    def test_validate_flags_bad_constraint(self, tmp_path, capsys):
        from strake_spark.cli import main
        cfg = self._write(tmp_path, [
            {"table": "k.orders", "columns": [
                {"name": "o_orderkey", "type": "bigint",
                 "constraints": [{"type": "frobnicate", "value": 1}]}
            ]}
        ])
        assert main(["validate", cfg]) == 5  # VALIDATION_ERROR
        assert "unknown constraint" in capsys.readouterr().err

    def test_validate_flags_empty_strict(self, tmp_path, capsys):
        from strake_spark.cli import main
        cfg = self._write(tmp_path, [{"table": "k.orders", "strict": True, "columns": []}])
        assert main(["validate", cfg]) == 5  # VALIDATION_ERROR
        assert "strict with no columns" in capsys.readouterr().err


class TestSampledValidation:
    def test_sampled_scan_is_deterministic_and_subsetted(self, spark):
        ss.connect(_cfg([]), spark=spark)
        contract = Contract(table="k.lineitem", columns=(
            ContractColumn(name="l_quantity", data_type="double", constraints=(
                Constraint(type="ge", value=0),
            )),
        ))
        a = validate_data(spark, contract, sample_fraction=0.25)
        b = validate_data(spark, contract, sample_fraction=0.25)
        assert a == b  # md5 sampling: no RNG state
        assert a["l_quantity/ge"] == 0
        with pytest.raises(ValueError):
            validate_data(spark, contract, sample_fraction=1.5)


class TestStrictDegrade:
    def test_unbindable_strict_contract_reports_not_bricks(self, spark):
        eng = ss.connect(_cfg([
            {"table": "k.orders", "strict": True, "columns": [
                {"name": "no_such_col", "type": "bigint"},
            ]}
        ]), spark=spark)  # connect must SUCCEED
        rep = eng.validate_contracts(check_data=False)
        assert not rep["valid"]
        assert any("NOT enforced" in e for e in rep["errors"])


class TestDataErrorIsInvalid:
    def test_scan_error_fails_validation(self, spark):
        eng = ss.connect(_cfg([
            {"table": "k.lineitem", "columns": [
                {"name": "l_quantity", "type": "double",
                 "constraints": [{"type": "ge", "value": 0}]},
            ]}
        ]), spark=spark)
        rep = eng.validate_contracts(sample_fraction=1.5)  # invalid knob
        assert not rep["valid"]
        assert any("data validation failed" in e for e in rep["errors"])


class TestStrictFallback:
    def test_remote_failure_falls_back_to_projected_local_view(self, spark, tmp_path):
        """If the remote engine rejects the pushed statement (dialect
        drift, outage), the ladder's local fallback must still enforce
        the strict projection — the local temp view IS the projection."""
        import duckdb

        from strake_spark.governance.contracts import STRICT_VIEWS
        from strake_spark.sources.registry import REMOTE_TABLES

        dpath = str(tmp_path / "fb.duckdb")
        con = duckdb.connect(dpath)
        con.execute(
            f"CREATE TABLE orders AS SELECT * FROM read_parquet('{SF_DIR}/orders.parquet')"
        )
        con.close()
        eng = ss.connect(
            {
                "sources": [{"name": "pg", "type": "duckdb", "url": dpath}],
                "contracts": {"contracts": [
                    {"table": "pg.orders", "strict": True, "columns": [
                        {"name": "o_orderkey", "type": "bigint"},
                        {"name": "o_totalprice", "type": "double"},
                    ]}
                ]},
            },
            spark=spark,
        )
        # sabotage the push path: every remote execution now fails
        rt = REMOTE_TABLES["pg_orders"]
        import dataclasses

        def boom(s, sql, schema=None):
            raise RuntimeError("simulated remote outage")

        REMOTE_TABLES["pg_orders"] = dataclasses.replace(rt, push_query=boom)
        try:
            out = eng.execute(
                "SELECT count(*) AS n FROM pg_orders WHERE o_orderkey > 0"
            ).to_pylist()
            assert out[0]["n"] > 0  # local fallback executed
            with pytest.raises(Exception, match="o_orderpriority|UNRESOLVED"):
                eng.execute("SELECT o_orderpriority FROM pg_orders").to_pandas()
        finally:
            REMOTE_TABLES.pop("pg_orders", None)
            STRICT_VIEWS.pop("pg_orders", None)
