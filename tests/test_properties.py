"""Property-based tests (reference parity: proptest suites
crates/sql/tests/flatten_joins_proptest.rs + arrow_proptest.rs).

1. SQL-literal encoding roundtrips through a real engine for arbitrary
   values — the injection-safety property.
2. Range partition planning covers every value exactly once — the
   no-lost-rows / no-duplicate-rows property of parallel scans.
3. Policy table-renaming never touches string literals and renames
   every identifier occurrence — the RLS-can't-be-bypassed property.
"""

from __future__ import annotations

import datetime as dt

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from strake_spark.governance.policies import rename_tables
from strake_spark.sources import pushsql
from tests.conftest import fuzz_examples

SETTINGS = settings(max_examples=60, deadline=None)


@st.composite
def scalar_values(draw):
    return draw(
        st.one_of(
            st.none(),
            st.booleans(),
            st.integers(min_value=-(2**62), max_value=2**62),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            st.text(max_size=80),
            st.dates(min_value=dt.date(1, 1, 1), max_value=dt.date(9999, 12, 28)),
        )
    )


class TestLiteralRoundtrip:
    @SETTINGS
    @given(scalar_values())
    def test_duckdb_evaluates_literal_back(self, value):
        from strake_spark.errors import SourceError

        try:
            lit = pushsql.sql_literal(value)
        except SourceError:
            # NUL-bearing strings are rejected, never emitted unsafely
            assert isinstance(value, str) and "\x00" in value
            return
        con = duckdb.connect()
        try:
            out = con.execute(f"SELECT {lit} AS v").fetchone()[0]
        finally:
            con.close()
        if value is None:
            assert out is None
        elif isinstance(value, bool):
            assert out is value
        else:
            assert out == value

    @SETTINGS
    @given(st.text(max_size=80))
    def test_string_literal_never_escapes_quoting(self, s):
        """Whatever the content, the literal is one self-contained
        expression (or rejected): evaluating it alongside a sentinel
        yields exactly the original string and the sentinel."""
        from strake_spark.errors import SourceError

        try:
            lit = pushsql.sql_literal(s)
        except SourceError:
            assert "\x00" in s
            return
        con = duckdb.connect()
        try:
            row = con.execute(f"SELECT {lit} AS v, 42 AS sentinel").fetchone()
        finally:
            con.close()
        assert row[0] == s and row[1] == 42

    def test_binary_rejected(self):
        from strake_spark.errors import SourceError

        import pytest

        with pytest.raises(SourceError):
            pushsql.sql_literal(b"\x01\x02")


class TestRangePartitions:
    @SETTINGS
    @given(
        st.integers(min_value=-(10**6), max_value=10**6),
        st.integers(min_value=1, max_value=10**6),
        st.integers(min_value=1, max_value=64),
        st.lists(st.integers(min_value=-(2**40), max_value=2**40), max_size=30),
    )
    def test_every_value_in_exactly_one_slice(self, lo, span, n, probes):
        hi = lo + span
        parts = pushsql.plan_ranges("k", lo, hi, n)

        def in_part(p, v):
            if p.lower is None and p.upper is None:
                return True
            if p.lower is None:
                return v < p.upper
            if p.upper is None:
                return v >= p.lower
            return p.lower <= v < p.upper

        for v in probes + [lo, hi, lo - 1, hi + 1]:
            holders = [p for p in parts if in_part(p, v)]
            assert len(holders) == 1, (v, parts)

    @SETTINGS
    @given(st.integers(min_value=-(10**6), max_value=10**6))
    def test_null_belongs_to_first_slice(self, lo):
        parts = pushsql.plan_ranges("k", lo, lo + 100, 4)
        assert "IS NULL" in (parts[0].predicate() or "IS NULL")
        for p in parts[1:]:
            pred = p.predicate()
            assert pred is None or "IS NULL" not in pred


_IDENT_CHARS = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=3, max_size=12
)


class TestPolicyRename:
    @SETTINGS
    @given(
        st.lists(_IDENT_CHARS, min_size=1, max_size=5, unique=True),
        st.text(max_size=40),
    )
    def test_literals_never_rewritten(self, idents, literal_content):
        target = idents[0]
        mapping = {target: target + "__secured"}
        # a Spark literal whose value is literal_content: \ escapes too
        lit = "'" + literal_content.replace("\\", "\\\\").replace("'", "''") + "'"
        sql = f"SELECT * FROM {target} WHERE note = {lit} AND x = {lit}"
        out = rename_tables(sql, mapping)
        # the literal segments survive byte-for-byte
        assert out.count(lit) == 2
        # and the identifier WAS renamed
        assert f"FROM {target}__secured" in out

    @SETTINGS
    @given(st.lists(_IDENT_CHARS, min_size=2, max_size=6, unique=True))
    def test_all_occurrences_renamed(self, idents):
        target, *others = idents
        mapping = {target: "SECURED"}
        sql = " ".join(
            f"SELECT a FROM {name} JOIN {target} ON x = y;" for name in others
        )
        out = rename_tables(sql, mapping)
        # every target occurrence renamed; no other identifier touched,
        # unless an 'other' contains target as a whole word (it can't —
        # identifiers have no spaces)
        assert target not in [t.strip(";") for t in out.split()]
        for name in others:
            if name != "SECURED".lower():
                assert name in out


class TestStrictGuardProperty:
    """For ANY declared-column subset, whole-statement pushdown SQL
    references the physical table only through a subquery projecting
    exactly the declared columns — undeclared names never appear."""

    COLS = ["c_a", "c_b", "c_c", "c_d", "c_e"]

    @given(
        declared=st.sets(st.sampled_from(COLS), min_size=1).map(sorted),
        data=st.data(),
    )
    @settings(max_examples=fuzz_examples(40), deadline=None)
    def test_pushed_sql_never_leaks_undeclared(self, declared, data):
        from strake_spark.governance.contracts import STRICT_VIEWS
        from strake_spark.plans import federation
        from strake_spark.sources.registry import REMOTE_TABLES, RemoteTable

        query_cols = data.draw(
            st.lists(st.sampled_from(declared), min_size=1, max_size=3, unique=True)
        )
        REMOTE_TABLES["pp_t"] = RemoteTable(
            source="pp", dialect="duckdb", url="fake://x", table="phys_t",
            push_query=lambda s, sql: None,
        )
        STRICT_VIEWS["pp_t"] = tuple(declared)
        try:
            sql = (
                f"SELECT {', '.join(query_cols)}, count(*) AS n FROM pp_t "
                f"WHERE {query_cols[0]} IS NOT NULL "
                f"GROUP BY {', '.join(query_cols)}"
            )
            plan = federation.analyze(sql)
            assert plan is not None, sql
            s = plan.rewritten_sql.replace('"', "").lower()
            # the physical table appears only inside the guard subquery
            assert f"(select {', '.join(declared)} from phys_t)" in s
            for col in set(self.COLS) - set(declared):
                assert col not in s, f"undeclared {col} leaked: {s}"
        finally:
            REMOTE_TABLES.pop("pp_t", None)
            STRICT_VIEWS.pop("pp_t", None)


class TestPairExpansionProperty:
    """The r9 bucket-aggregate pair expansion (two chained explodes)
    must produce exactly the a<b pair set a self-join would — for any
    bucket contents, including duplicates across buckets."""

    @given(
        st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 5)),  # (doc_id, bucket)
            min_size=0, max_size=60, unique=True,
        )
    )
    @settings(max_examples=20, deadline=None)
    def test_expansion_equals_self_join(self, spark, rows):
        import itertools

        from pyspark.sql import functions as F
        df = spark.createDataFrame(
            [(int(i), int(b)) for i, b in rows] or [(0, 0)],
            "doc_id long, bucket long",
        )
        if not rows:
            df = df.limit(0)
        members = (
            df.groupBy("bucket")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("m"))
            .filter(F.size("m") >= 2)
        )
        mi = members.select(
            "m", F.explode(F.sequence(F.lit(0), F.size("m") - 2)).alias("i")
        )
        got = {
            (r.id_a, r.id_b)
            for r in mi.select(
                F.element_at("m", F.col("i") + 1).alias("id_a"),
                F.explode(F.slice(F.col("m"), F.col("i") + 2, F.size("m"))).alias("id_b"),
            )
            .distinct()
            .collect()
        }
        by_bucket: dict[int, list[int]] = {}
        for i, b in rows:
            by_bucket.setdefault(b, []).append(i)
        expect = {
            (a, c)
            for mem in by_bucket.values()
            for a, c in itertools.combinations(sorted(mem), 2)
        }
        assert got == expect
