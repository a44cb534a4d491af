"""DuckDB + SQLite Python-DataSource connectors: correctness vs the
underlying database, filter pushdown, range partitioning, discovery,
schema drift on declared columns."""

from __future__ import annotations

import os
import sqlite3

import duckdb
import pytest

from strake_spark.config import parse_config
from strake_spark.sources import duck as duck_src
from strake_spark.sources import sqlite as sqlite_src
from strake_spark.sources.registry import REMOTE_TABLES, ensure_format, register_source
from tests.conftest import SF_DIR, compare_frames


@pytest.fixture(scope="module")
def duck_db(tmp_path_factory):
    """A DuckDB file with nation + orders copied from the sf0.001 parquet."""
    path = str(tmp_path_factory.mktemp("duck") / "tpch.duckdb")
    con = duckdb.connect(path)
    for t in ("nation", "orders", "customer"):
        con.execute(
            f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    con.close()
    return path


@pytest.fixture(scope="module")
def sqlite_db(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sqlite") / "tpch.sqlite")
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE nation (n_nationkey INTEGER, n_name TEXT, n_regionkey INTEGER)"
    )
    src = duckdb.connect()
    rows = src.execute(f"SELECT * FROM read_parquet('{SF_DIR}/nation.parquet')").fetchall()
    con.executemany("INSERT INTO nation VALUES (?,?,?)", rows)
    con.commit()
    con.close()
    return path


def _expected(db_path: str, sql: str):
    con = duckdb.connect(db_path, read_only=True)
    try:
        return con.execute(sql).df()
    finally:
        con.close()


class TestDuckDBSource:
    def test_full_scan_matches(self, spark, duck_db):
        ensure_format(spark, duck_src.DuckDBDataSource)
        df = (
            spark.read.format(duck_src.FORMAT_NAME)
            .option("path", duck_db)
            .option("table", "nation")
            .load()
        )
        compare_frames(df.toPandas(), _expected(duck_db, "SELECT * FROM nation"))

    def test_filtered_scan_matches(self, spark, duck_db):
        ensure_format(spark, duck_src.DuckDBDataSource)
        df = (
            spark.read.format(duck_src.FORMAT_NAME)
            .option("path", duck_db)
            .option("table", "orders")
            .load()
            .filter("o_orderpriority = '1-URGENT' AND o_totalprice > 100000")
        )
        exp = _expected(
            duck_db,
            "SELECT * FROM orders WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 100000",
        )
        compare_frames(df.toPandas(), exp)

    def test_where_option_filters_remotely(self, spark, duck_db):
        ensure_format(spark, duck_src.DuckDBDataSource)
        df = (
            spark.read.format(duck_src.FORMAT_NAME)
            .option("path", duck_db)
            .option("table", "orders")
            .option("where", "o_totalprice > 100000")
            .load()
        )
        exp = _expected(duck_db, "SELECT * FROM orders WHERE o_totalprice > 100000")
        compare_frames(df.toPandas(), exp)

    def test_self_join_with_different_filters(self, spark, duck_db):
        """Two scans of one view with different predicates must not share
        state (the PythonDataSourceV2 read-plan-cache hazard that made us
        drop pushFilters)."""
        ensure_format(spark, duck_src.DuckDBDataSource)
        (
            spark.read.format(duck_src.FORMAT_NAME)
            .option("path", duck_db)
            .option("table", "nation")
            .load()
            .createOrReplaceTempView("sj_nation")
        )
        n = spark.sql(
            "SELECT count(*) AS n FROM sj_nation a JOIN sj_nation b "
            "ON a.n_regionkey + 4 = b.n_regionkey "
            "WHERE a.n_regionkey <= 0 AND b.n_regionkey >= 4"
        ).collect()[0].n
        assert n == 25  # 5 nations in region 0 x 5 in region 4

    def test_partitioned_read_complete(self, spark, duck_db):
        ensure_format(spark, duck_src.DuckDBDataSource)
        df = (
            spark.read.format(duck_src.FORMAT_NAME)
            .option("path", duck_db)
            .option("table", "orders")
            .option("partition_column", "o_orderkey")
            .option("num_partitions", "4")
            .load()
        )
        assert df.rdd.getNumPartitions() == 4
        exp = _expected(duck_db, "SELECT * FROM orders")
        compare_frames(df.toPandas(), exp)

    def test_no_filter_state_leak_across_queries(self, spark, duck_db):
        """A filter applied by one query must not bleed into the next
        scan of the same view (PythonDataSourceV2 read-plan-cache
        hazard)."""
        ensure_format(spark, duck_src.DuckDBDataSource)
        df = (
            spark.read.format(duck_src.FORMAT_NAME)
            .option("path", duck_db)
            .option("table", "nation")
            .load()
        )
        df.createOrReplaceTempView("leak_check")
        n_all = spark.sql("SELECT count(*) AS n FROM leak_check").collect()[0].n
        n_filt = spark.sql(
            "SELECT count(*) AS n FROM leak_check WHERE n_regionkey >= 3"
        ).collect()[0].n
        n_again = spark.sql("SELECT count(*) AS n FROM leak_check").collect()[0].n
        assert n_filt < n_all
        assert n_again == n_all

    def test_query_option(self, spark, duck_db):
        ensure_format(spark, duck_src.DuckDBDataSource)
        q = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"
        df = (
            spark.read.format(duck_src.FORMAT_NAME)
            .option("path", duck_db)
            .option("query", q)
            .load()
        )
        compare_frames(df.toPandas(), _expected(duck_db, q))

    def test_register_source_discovers_tables(self, spark, duck_db):
        cfg = parse_config(
            {"sources": [{"name": "dsrc", "type": "duckdb", "url": duck_db}]}
        )
        views = register_source(spark, cfg.sources[0])
        assert sorted(views) == ["dsrc_customer", "dsrc_nation", "dsrc_orders"]
        assert REMOTE_TABLES["dsrc_nation"].dialect == "duckdb"
        got = spark.sql("SELECT count(*) AS n FROM dsrc_nation").collect()[0].n
        assert got == len(_expected(duck_db, "SELECT * FROM nation"))


class TestSQLiteSource:
    def test_full_scan_matches(self, spark, sqlite_db):
        ensure_format(spark, sqlite_src.SQLiteDataSource)
        df = (
            spark.read.format(sqlite_src.FORMAT_NAME)
            .option("path", sqlite_db)
            .option("table", "nation")
            .load()
        )
        con = duckdb.connect()
        exp = con.execute(f"SELECT * FROM read_parquet('{SF_DIR}/nation.parquet')").df()
        got = df.toPandas()
        assert len(got) == len(exp)
        assert set(got.columns) == set(exp.columns)
        assert sorted(got.n_name) == sorted(exp.n_name)

    def test_filter_pushdown_and_partitions(self, spark, sqlite_db):
        ensure_format(spark, sqlite_src.SQLiteDataSource)
        df = (
            spark.read.format(sqlite_src.FORMAT_NAME)
            .option("path", sqlite_db)
            .option("table", "nation")
            .option("num_partitions", "3")
            .load()
            .filter("n_regionkey >= 2")
        )
        assert df.rdd.getNumPartitions() == 3
        con = sqlite3.connect(sqlite_db)
        exp_n = con.execute("SELECT count(*) FROM nation WHERE n_regionkey >= 2").fetchone()[0]
        con.close()
        assert df.count() == exp_n

    def test_register_source(self, spark, sqlite_db):
        cfg = parse_config(
            {"sources": [{"name": "lite", "type": "sqlite", "url": sqlite_db}]}
        )
        views = register_source(spark, cfg.sources[0])
        assert views == ["lite_nation"]
        assert spark.sql("SELECT count(*) AS n FROM lite_nation").collect()[0].n == 25


class TestPushSQL:
    def test_unsafe_identifier_rejected(self):
        from strake_spark.errors import SourceError
        from strake_spark.sources import pushsql

        for bad in ('a"b', "a;b", "a`b", "a\\b", "", "x" * 129):
            with pytest.raises(SourceError):
                pushsql.quote_ident(bad)

    def test_range_plan_covers_domain(self):
        from strake_spark.sources import pushsql

        parts = pushsql.plan_ranges("k", 0, 100, 4)
        assert parts[0].lower is None and parts[-1].upper is None
        assert len(parts) == 4
        # unbounded ends guard against stale stats
        assert "IS NULL" in parts[0].predicate()
