"""Concurrent registration (``registry.ordered_map``): engine
construction registers its sources, and each source its tables, on at
most ``default_parallelism()`` threads. The catalog it leaves is the one
that registering one table after another, in config order, leaves."""

from __future__ import annotations

import os
import re
import sqlite3
import sys
import threading
import time

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql.datasource import DataSourceRegistration
from pyspark.sql.readwriter import DataFrameReader

import strake_spark as ss
from strake_spark.errors import SourceError
from strake_spark.sources import registry
from strake_spark.sources.drift import clear_drift_log, drift_log, drift_warnings_for
from strake_spark.sources.duck import DuckDBDataSource
from tests.conftest import REPO_ROOT, SF_DIR
from tests.test_sql_registration import _SQL_TYPES, _source

_TABLES = ("nation", "region", "supplier")


@pytest.fixture(scope="module")
def dbs(tmp_path_factory) -> tuple[str, str]:
    """A DuckDB file and a SQLite file holding ``_TABLES``."""
    d = tmp_path_factory.mktemp("creg")
    duck, lite = str(d / "shop.duckdb"), str(d / "shop.db")
    con = duckdb.connect(duck)
    for t in _TABLES:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    con.close()
    with sqlite3.connect(lite) as con:
        for t in _TABLES:
            pq.read_table(f"{SF_DIR}/{t}.parquet").to_pandas().to_sql(t, con, index=False)
    return duck, lite


@pytest.fixture(autouse=True)
def _drop_new_views(spark):
    """Drop the views (and remote entries) a test registered."""
    before = {t.name for t in spark.catalog.listTables()}
    yield
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name not in before:
            registry.REMOTE_TABLES.pop(t.name, None)
            spark.catalog.dropTempView(t.name)


def _config(duck: str, lite: str) -> dict:
    """Parquet, duckdb and sqlite sources; two tables declare columns
    that drift from the data."""
    return {"sources": [
        {"name": "cp", "type": "parquet", "url": SF_DIR, "tables": [
            {"name": "nation"}, {"name": "region"}, {"name": "part"},
            {"name": "supplier", "columns": [
                {"name": "s_suppkey", "type": "bigint"}, {"name": "s_name"},
                {"name": "s_phone"}]},
        ]},
        {"name": "cd", "type": "duckdb", "url": duck, "tables": [
            {"name": "nation"}, {"name": "supplier"},
            {"name": "region", "columns": [
                {"name": "r_regionkey", "type": "string"}, {"name": "r_comment"}]},
        ]},
        {"name": "cs", "type": "sqlite", "url": lite},  # tables discovered
    ]}


def _catalog(eng) -> dict:
    """Everything registration leaves behind for ``eng``'s views."""
    views = eng.list_sources()
    names = [v for vs in views.values() for v in vs]
    return {
        "views": views,
        "schemas": {v: eng.spark.table(v).schema.simpleString() for v in names},
        "remote": {v: (r.source, r.dialect, r.url, r.table, r.schema, r.fetch is not None)
                   for v, r in registry.REMOTE_TABLES.items() if v in names},
        "drift": sorted((d["table"], repr(d)) for d in drift_log()),
        "warnings": {v: drift_warnings_for(v) for v in names},
        "rows": {v: eng.spark.table(v).count() for v in names},
    }


def _threads() -> list[str]:
    return [t.name for t in threading.enumerate() if t.name.startswith("strake-register")]


def test_ordered_map_under_contention(monkeypatch):
    """More workers than cores, a short switch interval, nested calls:
    each item runs once, results keep item order, at most the bound of
    threads run at once, and the first failing item in order raises."""
    bound = 2 * (os.cpu_count() or 4)
    monkeypatch.setattr(registry, "default_parallelism", lambda: bound)
    lock = threading.Lock()
    live, peak, runs = [0], [0], []

    def leaf(x):
        with lock:
            live[0] += 1
            peak[0] = max(peak[0], live[0])
            runs.append(x)
        time.sleep(0.001)
        with lock:
            live[0] -= 1
        return x * 2

    def outer(base):
        return registry.ordered_map(leaf, range(base, base + 40))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        got = registry.ordered_map(outer, range(0, 200, 40))
        assert got == [[2 * x for x in range(b, b + 40)] for b in range(0, 200, 40)]
        assert sorted(runs) == list(range(200))
        assert 1 < peak[0] <= bound

        def fail(x):
            if x in (3, 7):
                time.sleep(0.05 if x == 3 else 0)
                raise ValueError(x)
            return x

        with pytest.raises(ValueError, match="^3$"):
            registry.ordered_map(fail, range(10))
    finally:
        sys.setswitchinterval(interval)
    assert _threads() == []


def test_workers_inherit_the_callers_local_properties(spark, monkeypatch):
    """Spark jobs that registration starts on a worker run in the
    caller's scheduler pool and job group."""
    monkeypatch.setattr(registry, "default_parallelism", lambda: 4)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", "creg-pool")
    try:
        def pool(_):
            time.sleep(0.02)
            return threading.current_thread().name, sc.getLocalProperty("spark.scheduler.pool")

        got = registry.ordered_map(pool, range(8))
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)
    assert len({name for name, _ in got}) > 1
    assert {p for _, p in got} == {"creg-pool"}


def test_concurrent_matches_serial(spark, dbs, monkeypatch):
    """Same view lists in the same order, schemas, remote entries and
    drift warnings as registering one table after another; no
    registration thread outlives construction."""
    clear_drift_log()
    with monkeypatch.context() as m:
        m.setattr(registry, "default_parallelism", lambda: 1)  # serial, as before
        serial = _catalog(ss.connect(_config(*dbs), spark=spark))
    clear_drift_log()
    concurrent = _catalog(ss.connect(_config(*dbs), spark=spark))
    assert _threads() == []
    assert concurrent == serial
    assert list(serial["views"]) == ["cp", "cd", "cs"]
    assert serial["views"]["cp"] == ["cp_nation", "cp_region", "cp_part", "cp_supplier"]
    assert serial["views"]["cs"] == [f"cs_{t}" for t in sorted(_TABLES)]
    assert serial["warnings"]["cp_supplier"] and serial["warnings"]["cd_region"]


def test_threads_stay_within_the_bound(spark, dbs, monkeypatch):
    """Sources and their tables share one bound: at most
    ``default_parallelism()`` threads, the constructing one included,
    work at once, and more than one does."""
    from strake_spark.sources import file

    bound = 6
    monkeypatch.setattr(registry, "default_parallelism", lambda: bound)
    seen: set[int] = set()
    peak = [0]
    lock = threading.Lock()
    read_one = file._read_one

    def counted(*args, **kwargs):
        with lock:
            seen.add(threading.get_ident())
            peak[0] = max(peak[0], len(_threads()))
        time.sleep(0.05)
        return read_one(*args, **kwargs)

    monkeypatch.setattr(file, "_read_one", counted)
    ss.connect(_config(*dbs), spark=spark)
    assert peak[0] + 1 <= bound
    assert len(seen) > 1
    assert _threads() == []


def test_first_failing_source_in_config_order_raises(spark, dbs):
    """The 2nd and 3rd sources both fail; the 3rd fails first in time,
    but the 2nd source's error is raised."""
    cfg = _config(*dbs)
    cfg["sources"] = [
        cfg["sources"][0],
        {"name": "bad2", "type": "parquet", "url": SF_DIR,
         "tables": [{"name": "no_such_table"}]},
        {"name": "bad3", "type": "duckdb"},  # no url: fails at once
    ]
    with pytest.raises(Exception, match="no_such_table"):
        ss.connect(cfg, spark=spark)
    assert _threads() == []
    # the first source registered; its views went with the failure
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("cp_")]


def test_two_sources_making_one_view_are_refused(spark):
    """``a_b`` + ``c`` and ``a`` + ``b_c`` both make view ``a_b_c``:
    concurrent registration has no later source to win, so the config
    is refused."""
    nation = os.path.join(SF_DIR, "nation.parquet")
    with pytest.raises(SourceError, match="'dup_a_b' and 'dup_a' both register view"):
        ss.connect({"sources": [
            {"name": "dup_a_b", "type": "parquet", "tables": [{"name": "c", "path": nation}]},
            {"name": "dup_a", "type": "parquet", "tables": [{"name": "b_c", "path": nation}]},
        ]}, spark=spark)
    assert not spark.catalog.tableExists("dup_a_b_c")


def test_sources_read_with_their_own_object_store_keys(spark, monkeypatch):
    """Hadoop builds a bucket's FileSystem from the keys set at its first
    read and keeps it: two sources with different keys, registering at
    once, each read while their own keys are set."""
    from strake_spark.sources import file

    monkeypatch.setattr(registry, "default_parallelism", lambda: 4)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    before = hconf.get("fs.s3a.access.key")
    seen: list[tuple[str, str]] = []
    read_one = file._read_one

    def reading(*args, context="", **kwargs):
        for _ in range(3):
            seen.append((context.split("_")[0], hconf.get("fs.s3a.access.key")))
            time.sleep(0.02)
        return read_one(*args, context=context, **kwargs)

    monkeypatch.setattr(file, "_read_one", reading)
    try:
        ss.connect({"sources": [
            {"name": f"key{k}", "type": "parquet", "url": SF_DIR,
             "options": {"s3_access_key": f"key{k}"},
             "tables": [{"name": "nation"}, {"name": "region"}]}
            for k in (1, 2)
        ]}, spark=spark)
    finally:
        if before is None:
            hconf.unset("fs.s3a.access.key")
        else:
            hconf.set("fs.s3a.access.key", before)
    assert len(seen) == 12
    assert all(source == key for source, key in seen), seen


def test_ensure_format_registers_once(spark, dbs, monkeypatch):
    """Two duckdb sources registering at once call
    ``spark.dataSource.register`` once, and both answer queries."""
    registry._FORMATS.discard((id(spark.sparkContext), DuckDBDataSource))
    calls: list[type] = []
    register = DataSourceRegistration.register

    def slow(self, cls):
        calls.append(cls)
        time.sleep(0.3)  # both sources would pass an unlocked check
        return register(self, cls)

    monkeypatch.setattr(DataSourceRegistration, "register", slow)
    duck = dbs[0]
    eng = ss.connect({"sources": [
        {"name": f"fd{i}", "type": "duckdb", "url": duck, "tables": [{"name": "nation"}]}
        for i in (1, 2)
    ]}, spark=spark)
    assert calls == [DuckDBDataSource]
    for i in (1, 2):
        assert eng.execute(f"SELECT count(*) AS n FROM fd{i}_nation").to_pylist() == [{"n": 25}]


def test_sql_sources_load_with_the_driver_schema(spark, monkeypatch):
    """Registering duckdb, sqlite, postgres_wire, mysql_wire and
    clickhouse_http tables hands every ``load()`` the schema of the
    driver's probe, so no Python worker is asked for one."""
    loads: list[tuple[str, bool]] = []
    fmt, schema, load = DataFrameReader.format, DataFrameReader.schema, DataFrameReader.load

    def format_(self, source):
        self._test_format = source
        return fmt(self, source)

    def schema_(self, s):
        self._test_schema = True
        return schema(self, s)

    def load_(self, *args, **kwargs):
        loads.append((getattr(self, "_test_format", None), getattr(self, "_test_schema", False)))
        return load(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "format", format_)
    monkeypatch.setattr(DataFrameReader, "schema", schema_)
    monkeypatch.setattr(DataFrameReader, "load", load_)
    cfg = {"sources": [_source(t, {"name": "nation"}) for t in _SQL_TYPES]}
    eng = ss.connect(cfg, spark=spark)
    assert len(loads) == len(_SQL_TYPES)
    assert all(given for _, given in loads), loads
    for t in _SQL_TYPES:
        assert eng.execute(f"SELECT count(*) AS n FROM pr_{t}_nation").to_pylist() == [{"n": 25}]


def test_only_the_registry_starts_registration_threads():
    """``registry.ordered_map`` is the one place under
    ``strake_spark/sources/`` and in ``engine.py`` that starts threads
    or thread pools, so one bound covers all registration work."""
    pkg = os.path.join(REPO_ROOT, "strake_spark")
    allowed = os.path.join(pkg, "sources", "registry.py")
    starts = re.compile(r"\b(?:Thread|InheritableThread|ThreadPoolExecutor|ProcessPoolExecutor"
                        r"|start_new_thread|Pool)\(")
    paths = [os.path.join(pkg, "engine.py")] + [
        os.path.join(pkg, "sources", f) for f in os.listdir(os.path.join(pkg, "sources"))
        if f.endswith(".py")
    ]
    offenders = []
    for path in paths:
        if path == allowed:
            continue
        with open(path, encoding="utf-8") as fh:
            offenders += [f"{os.path.relpath(path, REPO_ROOT)}: {m.group(0)}"
                          for m in starts.finditer(fh.read())]
    assert offenders == []
