"""Partial (per-table) pushdown for mixed-source statements: pushed
execution must equal fully-local execution, pushed scans must carry the
expected filters/projections, and unsafe conjuncts must stay local."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import strake_spark as ss
from strake_spark.plans.federation import plan_sql
from strake_spark.plans.partial import PartialPlan, analyze_partial
from tests.conftest import SF_DIR, fuzz_examples


@pytest.fixture(scope="module")
def mixed(spark, tmp_path_factory):
    """DuckDB remote (orders, customer) + local parquet (nation)."""
    dpath = str(tmp_path_factory.mktemp("pp") / "pp.duckdb")
    con = duckdb.connect(dpath)
    for t in ("orders", "customer"):
        con.execute(
            f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    con.close()
    eng = ss.connect(
        {
            "sources": [
                {"name": "rm", "type": "duckdb", "url": dpath},
                {"name": "lc", "type": "parquet", "url": SF_DIR,
                 "tables": [{"name": "nation"}]},
            ]
        },
        spark=spark,
    )
    return eng


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestPartialPushdown:
    def test_filter_and_projection_pushed(self, mixed):
        sql = """SELECT c.c_name, n.n_name, c.c_acctbal
                 FROM rm_customer c JOIN lc_nation n ON c.c_nationkey = n.n_nationkey
                 WHERE c.c_acctbal > 9000 AND n.n_regionkey = 1"""
        df, plan = plan_sql(mixed.spark, sql)
        assert isinstance(plan, PartialPlan)
        (scan,) = plan.scans
        assert scan.view == "rm_customer"
        assert '"c_acctbal" > 9000' in scan.remote_sql
        # projection pruned to referenced columns only
        assert '"c_name"' in scan.remote_sql and '"c_phone"' not in scan.remote_sql
        # n_regionkey belongs to the local table: not pushed
        assert "n_regionkey" not in scan.remote_sql
        assert _rows(df) == _rows(mixed.spark.sql(sql))

    def test_projection_only_win(self, mixed):
        sql = """SELECT o.o_orderpriority, count(*) AS n
                 FROM rm_orders o JOIN lc_nation n ON o.o_custkey % 25 = n.n_nationkey
                 GROUP BY o.o_orderpriority"""
        df, plan = plan_sql(mixed.spark, sql)
        assert isinstance(plan, PartialPlan)
        (scan,) = plan.scans
        assert "WHERE" not in scan.remote_sql
        cols = scan.remote_sql.split("FROM")[0]
        assert '"o_orderpriority"' in cols and '"o_custkey"' in cols
        assert '"o_comment"' not in cols
        assert _rows(df) == _rows(mixed.spark.sql(sql))

    def test_string_inequality_stays_local(self, mixed):
        sql = """SELECT c.c_name FROM rm_customer c
                 JOIN lc_nation n ON c.c_nationkey = n.n_nationkey
                 WHERE c.c_name > 'Customer#000000500' AND c.c_acctbal >= 0"""
        df, plan = plan_sql(mixed.spark, sql)
        assert isinstance(plan, PartialPlan)
        (scan,) = plan.scans
        assert "c_name\" >" not in scan.remote_sql  # collation-sensitive: kept local
        assert '"c_acctbal" >= 0' in scan.remote_sql
        assert _rows(df) == _rows(mixed.spark.sql(sql))

    def test_like_and_in_pushed(self, mixed):
        sql = """SELECT c.c_name FROM rm_customer c
                 JOIN lc_nation n ON c.c_nationkey = n.n_nationkey
                 WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
                   AND c.c_name LIKE 'Customer#00000%'"""
        df, plan = plan_sql(mixed.spark, sql)
        assert isinstance(plan, PartialPlan)
        (scan,) = plan.scans
        assert "IN ('BUILDING', 'MACHINERY')" in scan.remote_sql
        assert "LIKE 'Customer#00000%'" in scan.remote_sql
        assert _rows(df) == _rows(mixed.spark.sql(sql))

    def test_self_join_two_pushed_scans(self, mixed):
        sql = """SELECT a.c_custkey, b.c_custkey
                 FROM rm_customer a
                 JOIN rm_customer b ON a.c_custkey = b.c_custkey
                 JOIN lc_nation n ON a.c_nationkey = n.n_nationkey
                 WHERE a.c_acctbal > 9900 AND b.c_acctbal > 9900"""
        df, plan = plan_sql(mixed.spark, sql)
        assert isinstance(plan, PartialPlan)
        assert len(plan.scans) == 2
        assert len({s.temp_view for s in plan.scans}) == 2
        assert _rows(df) == _rows(mixed.spark.sql(sql))

    def test_all_local_and_all_remote_not_partial(self, mixed):
        assert analyze_partial(
            mixed.spark, "SELECT n_name FROM lc_nation WHERE n_regionkey = 0"
        ) is None
        # single-remote statements belong to whole-statement pushdown
        assert analyze_partial(
            mixed.spark, "SELECT count(*) FROM rm_orders WHERE o_custkey = 7"
        ) is None

    # Negated string predicates must NOT be pushed: a case-insensitive
    # remote collation (MySQL default) makes them UNDER-inclusive, and
    # the local re-filter cannot restore rows that were never shipped.
    NEGATED_STRING_PREDS = [
        "c.c_mktsegment <> 'BUILDING'",
        "c.c_name NOT LIKE 'Customer#00000%'",
        "c.c_mktsegment NOT IN ('BUILDING', 'MACHINERY')",
        "NOT (c.c_mktsegment = 'BUILDING')",
        "NOT (c.c_name LIKE '%42%')",
        "c.c_name > c.c_mktsegment",  # col-to-col string inequality
    ]

    @pytest.mark.parametrize("pred", NEGATED_STRING_PREDS)
    def test_negated_string_predicates_stay_local(self, mixed, pred):
        sql = f"""SELECT c.c_custkey, n.n_name
                  FROM rm_customer c JOIN lc_nation n ON c.c_nationkey = n.n_nationkey
                  WHERE ({pred}) AND c.c_acctbal >= 0"""
        df, plan = plan_sql(mixed.spark, sql)
        assert isinstance(plan, PartialPlan)
        (scan,) = plan.scans
        # the safe numeric conjunct is pushed, the negated string one is not
        assert '"c_acctbal" >= 0' in scan.remote_sql
        for marker in ("<> '", "NOT LIKE", "NOT IN", "NOT (", "c_mktsegment\" <>",
                       'c_name" >'):
            assert marker not in scan.remote_sql, (marker, scan.remote_sql)
        assert _rows(df) == _rows(mixed.spark.sql(sql))

    def test_negated_numeric_predicates_still_push(self, mixed):
        sql = """SELECT c.c_custkey, n.n_name
                 FROM rm_customer c JOIN lc_nation n ON c.c_nationkey = n.n_nationkey
                 WHERE c.c_acctbal <> 0 AND NOT (c.c_nationkey = 5)
                   AND c.c_nationkey NOT IN (7, 9)"""
        df, plan = plan_sql(mixed.spark, sql)
        assert isinstance(plan, PartialPlan)
        (scan,) = plan.scans
        assert '"c_acctbal" <> 0' in scan.remote_sql
        # the parser normalizes NOT (x = 5) to x <> 5 before rendering
        assert '"c_nationkey" <> 5' in scan.remote_sql
        assert 'NOT IN (7, 9)' in scan.remote_sql
        assert _rows(df) == _rows(mixed.spark.sql(sql))

    PREDICATES = [
        "c.c_acctbal > 1234.56",
        "c.c_acctbal <= -100",
        "c.c_nationkey IN (0, 3, 7) AND c.c_acctbal >= 0",
        "c.c_mktsegment = 'BUILDING' OR c.c_mktsegment = 'MACHINERY'",
        "c.c_name LIKE '%00042%'",
        "NOT (c.c_nationkey = 5)",
        "c.c_name IS NOT NULL AND c.c_acctbal <> 0",
        "c.c_name = 'it''s'",  # quote escaping (matches nothing, must not break)
        "c.c_name = 'a ~~ b'",  # LIKE-spelling inside a literal must survive
        "c.c_name = 'count_star()'",  # function-spelling inside a literal
        "c.c_acctbal > 0 AND c.c_nationkey = n.n_nationkey",  # cross-table conjunct stays local
    ]

    @pytest.mark.parametrize("pred", PREDICATES)
    def test_pushed_equals_local_matrix(self, mixed, pred):
        sql = f"""SELECT c.c_custkey, c.c_acctbal, n.n_name
                  FROM rm_customer c JOIN lc_nation n ON c.c_nationkey = n.n_nationkey
                  WHERE {pred}"""
        df, plan = plan_sql(mixed.spark, sql)
        assert _rows(df) == _rows(mixed.spark.sql(sql))
        if plan is not None:
            assert isinstance(plan, PartialPlan)

    # -------- generative equivalence: random predicate trees ----------

    _LEAVES = st.sampled_from([
        "c.c_acctbal > {n}", "c.c_acctbal <= {n}", "c.c_acctbal = {n}",
        "c.c_nationkey IN ({k}, {k2})", "c.c_nationkey <> {k}",
        "c.c_mktsegment = '{seg}'", "c.c_name LIKE '%{frag}%'",
        "c.c_name IS NOT NULL", "c.c_acctbal IS NULL",
        "n.n_regionkey = {k}",           # local-table leaf: must stay local
        "c.c_nationkey = n.n_nationkey",  # cross-table leaf: must stay local
    ])

    @st.composite
    def _predicates(draw, leaves=_LEAVES):
        def leaf():
            tpl = draw(leaves)
            return tpl.format(
                n=draw(st.integers(min_value=-2000, max_value=10000)),
                k=draw(st.integers(min_value=0, max_value=24)),
                k2=draw(st.integers(min_value=0, max_value=24)),
                seg=draw(st.sampled_from(["BUILDING", "MACHINERY", "AUTOMOBILE"])),
                frag=draw(st.sampled_from(["000", "42", "Customer"])),
            )
        depth = draw(st.integers(min_value=1, max_value=3))
        expr = leaf()
        for _ in range(depth - 1):
            op = draw(st.sampled_from(["AND", "OR"]))
            neg = draw(st.booleans())
            nxt = leaf()
            if neg:
                nxt = f"NOT ({nxt})"
            expr = f"({expr}) {op} ({nxt})"
        return expr

    @settings(max_examples=fuzz_examples(40), deadline=None)
    @given(pred=_predicates())
    def test_fuzzed_predicates_pushed_equals_local(self, mixed, pred):
        sql = f"""SELECT c.c_custkey, c.c_acctbal, n.n_name
                  FROM rm_customer c JOIN lc_nation n ON c.c_nationkey = n.n_nationkey
                  WHERE {pred}"""
        df, _plan = plan_sql(mixed.spark, sql)
        assert _rows(df) == _rows(mixed.spark.sql(sql))

    def test_explain_tree_shows_partial(self, mixed):
        tree = mixed.explain_tree(
            """SELECT c.c_name FROM rm_customer c
               JOIN lc_nation n ON c.c_nationkey = n.n_nationkey
               WHERE c.c_acctbal > 9000"""
        )
        assert "PartialPushdown" in tree and "[PUSHED to duckdb://" in tree

    def test_governed_execution_through_engine(self, mixed):
        out = mixed.execute(
            """SELECT n.n_name, count(*) AS n_cust
               FROM rm_customer c JOIN lc_nation n ON c.c_nationkey = n.n_nationkey
               WHERE c.c_acctbal > 5000
               GROUP BY n.n_name ORDER BY n.n_name"""
        )
        assert out.num_rows == 25


class TestColumnCase:
    """Spark resolves columns case-insensitively while the parsed
    statement keeps the user's spelling: ownership matches without case
    and the remote SQL names the schema's own column."""

    def test_mixed_case_columns_are_owned(self, mixed):
        sql = """SELECT c.C_NAME, n.n_name, c.c_acctbal
                 FROM rm_customer c JOIN lc_nation n ON c.c_nationkey = n.n_nationkey
                 WHERE c.C_ACCTBAL > 9000"""
        trace: list = []
        df, plan = plan_sql(mixed.spark, sql, trace=trace)
        assert isinstance(plan, PartialPlan)
        assert ("partial", "applied", "1 remote scan(s)") in trace
        (scan,) = plan.scans
        assert '"c_name"' in scan.remote_sql.split("FROM")[0]
        assert '"c_acctbal" > 9000' in scan.remote_sql
        assert "C_" not in scan.remote_sql
        assert _rows(df) == _rows(mixed.spark.sql(sql))


class TestTemporalRanges:
    """A date or timestamp_ntz column compared with a date/timestamp
    literal orders dates, not strings: the range ships. A zoned
    timestamp column keeps its range local, as the remote's zone may
    differ from the session's."""

    @pytest.fixture(scope="class")
    def temporal(self, spark, tmp_path_factory):
        dpath = str(tmp_path_factory.mktemp("tr") / "tr.duckdb")
        con = duckdb.connect(dpath)
        con.execute(
            "CREATE TABLE ev AS SELECT i AS id, i % 25 AS nk, "
            "DATE '1995-01-01' + CAST(i AS INTEGER) AS d, "
            "TIMESTAMP '1995-01-01' + INTERVAL (i) HOUR AS ts, "
            "CAST(TIMESTAMP '1995-01-01' + INTERVAL (i) HOUR AS TIMESTAMPTZ) AS tz "
            "FROM range(2000) r(i)"
        )
        con.close()
        return ss.connect(
            {"sources": [
                {"name": "tr", "type": "duckdb", "url": dpath},
                {"name": "trl", "type": "parquet", "url": SF_DIR,
                 "tables": [{"name": "nation"}]},
            ]},
            spark=spark,
        )

    @pytest.mark.parametrize("cond,pushed", [
        ("e.d >= DATE '1996-03-01' AND e.d < DATE '1996-05-01'",
         ["(\"d\" >= CAST('1996-03-01' AS DATE))", "(\"d\" < CAST('1996-05-01' AS DATE))"]),
        ("e.ts > TIMESTAMP '1995-02-01 06:00:00' AND e.ts <= TIMESTAMP '1995-02-03'",
         ["(\"ts\" > CAST('1995-02-01 06:00:00' AS TIMESTAMP))",
          "(\"ts\" <= CAST('1995-02-03' AS TIMESTAMP))"]),
        ("e.d <> DATE '1995-01-02'", ["(\"d\" <> CAST('1995-01-02' AS DATE))"]),
    ], ids=["date", "timestamp_ntz", "date_not_equal"])
    def test_range_ships_and_matches_local(self, temporal, cond, pushed):
        sql = f"""SELECT e.id, n.n_name FROM tr_ev e
                  JOIN trl_nation n ON e.nk = n.n_nationkey WHERE {cond}"""
        df, plan = plan_sql(temporal.spark, sql)
        assert isinstance(plan, PartialPlan)
        (scan,) = plan.scans
        for text in pushed:
            assert text in scan.remote_sql
        assert _rows(df) == _rows(temporal.spark.sql(sql))
        assert len(_rows(df)) > 0

    def test_zoned_timestamp_stays_local(self, temporal):
        assert dict(temporal.spark.table("tr_ev").dtypes)["tz"] == "timestamp"
        sql = """SELECT e.id, n.n_name FROM tr_ev e
                 JOIN trl_nation n ON e.nk = n.n_nationkey
                 WHERE e.tz >= TIMESTAMP '1995-02-01'"""
        df, plan = plan_sql(temporal.spark, sql)
        assert isinstance(plan, PartialPlan)
        (scan,) = plan.scans
        assert "WHERE" not in scan.remote_sql
        assert _rows(df) == _rows(temporal.spark.sql(sql))
