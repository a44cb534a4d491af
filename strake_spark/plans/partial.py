"""Partial (per-table) pushdown for MIXED-source statements.

Whole-statement federation (plans/federation.py) only fires when ONE
remote engine owns every referenced table. This module covers the
reference's other federation arm (datafusion-federation pushes maximal
per-source subtrees; scan-level pushdown in
crates/connectors/src/sources/file.rs + sql_generator/expr.rs): in a
statement that mixes remote and local tables, each remote base table is
replaced by a remote-executed subquery carrying

- the columns the statement actually references (projection pruning),
- the top-level WHERE conjuncts that touch only that table and pass a
  conservative pushability screen (filter pushdown),

so the wire carries the filtered projection instead of the whole table.

Safety model — three rules that make this correct-by-construction:

1. **Outer predicates are never removed.** Pushed conjuncts ALSO remain
   in Spark's WHERE, so a remote engine that evaluates a predicate
   over-inclusively (e.g. SQLite's case-insensitive LIKE) only ships
   extra rows that Spark then filters out. Only UNDER-inclusive remote
   evaluation could corrupt results, hence rule 2.
2. **No string inequalities, no negated string predicates.** ``<``/``>``
   on strings ride collation order, which differs across engines in
   both directions. Negation is worse: it turns over-inclusion into
   UNDER-inclusion — ``name <> 'foo'`` / ``NOT LIKE`` / ``NOT IN`` on a
   case-insensitive remote (MySQL's default collation) drops rows the
   local re-filter can never restore. Only ``=``, ``IN``, ``LIKE``,
   ``IS [NOT] NULL`` (over-inclusive-or-equal under common collations)
   plus numeric/date/bool comparisons — including their negations —
   are pushable. String-typedness is decided from the table's Spark
   schema (column dtypes) plus constant/cast types; unknown counts as
   string.
3. **Whitelist, not blacklist.** A conjunct is pushable only if every
   node in its subtree is a known-deterministic class (column ref,
   constant, constant CAST, comparison, AND/OR/NOT, IN-list, IS NULL,
   LIKE); anything else — functions, subqueries, parameters — keeps the
   conjunct local.

At 100 TB this is the difference between shipping a 10^9-row remote
table to the cluster and shipping the 10^5 rows that survive the scan
predicate — while staying provably equivalent to local execution.

A pushed scan's relation is bound for one statement only
(plans/binding.py); ``PartialPlan.relations`` keeps each one that
``local_sql`` names, for the engine to rebind at run time.
"""

from __future__ import annotations

import logging
import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from strake_spark.plans import sqlast
from strake_spark.plans.binding import private_name
from strake_spark.plans.dialects import rules_for
from strake_spark.plans.federation import resolve_remotes
from strake_spark.sources.pushsql import quote_ident
from strake_spark.sources.registry import REMOTE_TABLES, RemoteTable

log = logging.getLogger("strake_spark.federation.partial")


class _NotPushable(Exception):
    pass


# ------------------------------------------------------------- constants

_CAST_IDS = {"DATE", "TIMESTAMP", "TIMESTAMP WITH TIME ZONE", "TIME",
             "INTEGER", "BIGINT", "DOUBLE", "BOOLEAN", "VARCHAR"}
_INEQUALITY = {"COMPARE_LESSTHAN", "COMPARE_GREATERTHAN",
               "COMPARE_LESSTHANOREQUALTO", "COMPARE_GREATERTHANOREQUALTO"}


def _const_sql(node: dict) -> str:
    """CONSTANT node -> SQL literal text. Raises _NotPushable."""
    try:
        value, tid = sqlast.constant(node)
    except ValueError as e:
        raise _NotPushable(str(e)) from None
    if tid == "NULL":
        return "NULL"
    if tid == "BOOLEAN":
        return "TRUE" if value else "FALSE"
    if tid == "DECIMAL":
        return format(value, "f")
    if tid == "VARCHAR":
        if "\x00" in value:
            raise _NotPushable("NUL in literal")
        return "'" + value.replace("'", "''") + "'"
    return repr(value)


@dataclass
class _TableCtx:
    view: str
    alias: str  # effective alias in the statement (alias or view name)
    remote: RemoteTable
    columns: set[str]
    string_cols: set[str]  # lower-cased columns with string dtype in the Spark schema
    temporal_cols: set[str]  # lower-cased date / timestamp_ntz columns
    node: dict  # mutable BASE_TABLE node in the AST


class _ConjunctSql:
    """Unparse one whitelisted conjunct against a single table context,
    validating ownership (every column ref must belong to the table)."""

    def __init__(self, t: _TableCtx, others_cols: set[str]):
        self.t = t
        self.others = others_cols  # lower-cased columns of other tables (bare-name ambiguity)

    def _no_strings(self, node) -> bool:
        """True iff the subtree provably involves NO string-typed operand
        (no VARCHAR constant/cast, no string-dtype column from this
        table's Spark schema, no LIKE). Anything unknown counts as a
        string — whitelist stance.

        Why this matters: the safety model tolerates over-inclusive
        remote evaluation (Spark re-filters), but NEGATED string
        predicates invert over- into UNDER-inclusion — ``name <> 'foo'``
        on a case-insensitive MySQL collation drops 'FOO' rows remotely
        that Spark would keep, and the local re-filter cannot restore
        rows that were never shipped. Same for string inequalities,
        whose collation order differs across engines in both directions
        (reference keeps the same conservative whitelist,
        crates/sql/src/sql_generator/translator/mod.rs:76-145)."""
        if not isinstance(node, dict):
            return True  # scalars inside value nodes carry no type
        cls = node.get("class")
        if cls == "CONSTANT":
            v = node.get("value") or {}
            return ((v.get("type") or {}).get("id") or "").upper() != "VARCHAR"
        if cls == "CAST":
            if (node.get("cast_type") or {}).get("id", "").upper() == "VARCHAR":
                return False
            return self._no_strings(node.get("child"))
        if cls == "COLUMN_REF":
            names = node.get("column_names", [])
            return bool(names) and names[-1].lower() not in self.t.string_cols
        if cls == "FUNCTION" and node.get("function_name") in ("~~", "!~~"):
            return False
        for key in ("children", "left", "right", "child"):
            v = node.get(key)
            if isinstance(v, list):
                if not all(self._no_strings(c) for c in v):
                    return False
            elif isinstance(v, dict) and not self._no_strings(v):
                return False
        return True

    def _temporal(self, a, b) -> bool:
        """True when one side is a date or timestamp_ntz column and the
        other a date/timestamp literal (``TIMESTAMP '1998-09-02'`` parses
        as a CAST of a VARCHAR constant): the comparison orders dates,
        not strings. A zoned ``timestamp`` column stays refused, as the
        remote's zone may differ."""
        for col, lit in ((a, b), (b, a)):
            if not (isinstance(col, dict) and isinstance(lit, dict)):
                return False
            names = col.get("column_names") or []
            if (
                col.get("class") == "COLUMN_REF" and names
                and names[-1].lower() in self.t.temporal_cols
                and lit.get("class") == "CAST"
                and (lit.get("child") or {}).get("class") == "CONSTANT"
                and (lit.get("cast_type") or {}).get("id", "").upper() in ("DATE", "TIMESTAMP")
            ):
                return True
        return False

    def render(self, node) -> str:
        if not isinstance(node, dict):
            raise _NotPushable("non-dict node")
        cls, typ = node.get("class"), node.get("type")
        if cls == "CONJUNCTION" and typ in ("CONJUNCTION_AND", "CONJUNCTION_OR"):
            op = " AND " if typ == "CONJUNCTION_AND" else " OR "
            return "(" + op.join(self.render(c) for c in node.get("children", [])) + ")"
        if cls == "COMPARISON" and typ in sqlast.COMPARE_OPS:
            left, right = node["left"], node["right"]
            ordered = self._temporal(left, right) or (
                self._no_strings(left) and self._no_strings(right)
            )
            if typ in _INEQUALITY and not ordered:
                raise _NotPushable("string inequality (collation drift)")
            if typ == "COMPARE_NOTEQUAL" and not ordered:
                raise _NotPushable("string <> (negation under-includes)")
            return f"({self.render(left)} {sqlast.COMPARE_OPS[typ]} {self.render(right)})"
        if cls == "OPERATOR":
            ch = node.get("children", [])
            if typ in ("COMPARE_IN", "COMPARE_NOT_IN") and len(ch) >= 2:
                if typ == "COMPARE_NOT_IN" and not all(
                    self._no_strings(c) for c in ch
                ):
                    raise _NotPushable("string NOT IN (negation under-includes)")
                head = self.render(ch[0])
                items = ", ".join(self.render(c) for c in ch[1:])
                neg = "NOT " if typ == "COMPARE_NOT_IN" else ""
                return f"({head} {neg}IN ({items}))"
            if typ in ("OPERATOR_IS_NULL", "OPERATOR_IS_NOT_NULL") and len(ch) == 1:
                suffix = "IS NULL" if typ == "OPERATOR_IS_NULL" else "IS NOT NULL"
                return f"({self.render(ch[0])} {suffix})"
            if typ == "OPERATOR_NOT" and len(ch) == 1:
                if not self._no_strings(ch[0]):
                    raise _NotPushable("NOT over string predicate (under-includes)")
                return f"(NOT {self.render(ch[0])})"
            raise _NotPushable(f"operator {typ}")
        if cls == "FUNCTION" and node.get("function_name") in ("~~", "!~~"):
            ch = node.get("children", [])
            if len(ch) != 2:
                raise _NotPushable("LIKE arity")
            if node["function_name"] == "!~~":
                raise _NotPushable("NOT LIKE (negation under-includes)")
            return f"({self.render(ch[0])} LIKE {self.render(ch[1])})"
        if cls == "COLUMN_REF":
            names = node.get("column_names", [])
            col = sqlast.owned_column(names, self.t.columns, self.t.alias, self.others)
            if col is None:
                raise _NotPushable(f"column {'.'.join(names)} not uniquely owned")
            return quote_ident(col)
        if cls == "CONSTANT":
            return _const_sql(node)
        if cls == "CAST" and typ == "OPERATOR_CAST":
            inner = node.get("child") or {}
            if inner.get("class") != "CONSTANT":
                raise _NotPushable("non-constant cast")
            cast_id = (node.get("cast_type") or {}).get("id", "").upper()
            if cast_id not in _CAST_IDS:
                raise _NotPushable(f"cast to {cast_id}")
            return f"CAST({self.render(inner)} AS {cast_id})"
        raise _NotPushable(f"node {cls}/{typ}")


# -------------------------------------------------------------- planning


@dataclass(frozen=True)
class PushedScan:
    view: str  # original Spark view (a subtree's: its CTE name or alias)
    temp_view: str  # the statement-private name that replaces it (plans/binding.py)
    remote_sql: str
    context: str

    def remote(self) -> RemoteTable | None:
        """The remote that answers this scan: its view's, else the first
        registered one of its context."""
        remote = REMOTE_TABLES.get(self.view) or REMOTE_TABLES.get(self.view.lower())
        if remote is not None and remote.context() == self.context:
            return remote
        return next((r for r in REMOTE_TABLES.values() if r.context() == self.context), None)

    def frame(self, spark: SparkSession) -> DataFrame:
        """The lazy remote scan behind ``temp_view``: the remote
        statement runs when the outer statement executes."""
        remote = self.remote()
        if remote is None:  # pragma: no cover - registry drift
            raise RuntimeError(f"no source registered for context {self.context}")
        return remote.scan(spark, self.remote_sql)


@dataclass
class PartialPlan:
    """Mixed-source statement with >=1 remote scan pushed down."""

    scans: tuple[PushedScan, ...]
    local_sql: str  # the statement Spark runs over ``relations``
    # every relation local_sql names, bound only while a statement is
    # analyzed; ``lock`` serializes rebinding these fixed names
    relations: dict[str, DataFrame] = field(default_factory=dict, repr=False)
    lock: threading.Lock = field(default_factory=threading.Lock, repr=False, compare=False)

    @property
    def rewritten_sql(self) -> str:
        """Human-readable summary: each pushed view and its remote SQL."""
        return "; ".join(f"{s.view} -> ({s.remote_sql})" for s in self.scans)


def analyze_partial(spark: SparkSession, sql: str):
    """Plan per-table pushdown for a mixed statement. Returns
    (rewritten_local_sql, PartialPlan) or None when nothing is pushable
    (all-local, fully-one-remote — the whole-statement path handles
    that — or no table gains a filter/projection)."""
    if not REMOTE_TABLES:
        return None
    ast = sqlast.parse(sql)
    if ast is None:
        return None
    select = sqlast.top_select(ast)
    if select is None:
        return None
    base_nodes = sqlast.from_tables(select)
    if not base_nodes:
        return None

    tables: list[_TableCtx] = []
    for node, remote in resolve_remotes(base_nodes, sqlast.cte_names(ast))[0]:
        if remote.push_query is None:
            continue
        name = node["table_name"]
        try:
            # STRICT-CONTRACT GUARANTEE (structural): spark.table() is
            # deliberately the column authority here. Under a strict
            # contract the registered Spark view already projects ONLY
            # the declared columns, so every projection this rung can
            # emit (including the star fallback below, which expands to
            # t.columns, never to the remote catalog's schema) is a
            # subset of the declared set — the partial rung cannot leak
            # an undeclared remote column even though it does not route
            # through federation._rewrite_remote_ref like the
            # whole-statement and subtree rungs. Do NOT replace this
            # with the remote catalog's schema; the guarantee (pinned
            # by TestStrictContractFederation
            # ::test_partial_rung_*) dies with it.
            dtypes = spark.table(name).dtypes
        except Exception:
            return None
        cols = {c for c, _ in dtypes}
        string_cols = {
            c.lower() for c, dt in dtypes
            if dt == "string" or dt.startswith(("varchar", "char"))
        }
        temporal_cols = {c.lower() for c, dt in dtypes if dt in ("date", "timestamp_ntz")}
        alias = node.get("alias") or name
        tables.append(_TableCtx(name, alias, remote, cols, string_cols, temporal_cols, node))
    if not tables:
        return None
    if len(tables) == len(base_nodes) and len({t.remote.context() for t in tables}) == 1:
        return None  # fully one remote: whole-statement pushdown owns this

    # column refs + stars across the WHOLE statement (projection safety)
    refs = sqlast.column_refs(select)
    star = any("STAR" in str(n.get("class", "")) for n in sqlast.nodes(select))
    conjuncts = sqlast.conjuncts(select.get("where_clause"))

    scans: list[PushedScan] = []
    for t in tables:
        others = {c.lower() for o in tables if o is not t for c in o.columns}
        # projection: everything referenced that this table can own
        needed = {
            col for names in refs
            if (col := sqlast.owned_column(names, t.columns, t.alias)) is not None
        }
        cols = sorted(t.columns) if star else sorted(needed)
        if not cols:
            cols = sorted(t.columns)

        renderer = _ConjunctSql(t, others)
        where_parts: list[str] = []
        for c in conjuncts:
            try:
                where_parts.append(renderer.render(c))
            except _NotPushable:
                continue

        if not where_parts and len(cols) == len(t.columns):
            continue  # no win: leave this scan alone

        remote_sql = (
            f"SELECT {', '.join(quote_ident(c) for c in cols)} "
            f"FROM {t.remote.table_sql()}"
        )
        if where_parts:
            remote_sql += " WHERE " + " AND ".join(where_parts)
        remote_sql = rules_for(t.remote.dialect).fix_text(remote_sql)

        temp = private_name("strake_pushed")
        sqlast.retarget(t.node, temp, t.view)
        scans.append(
            PushedScan(view=t.view, temp_view=temp, remote_sql=remote_sql,
                       context=t.remote.context())
        )

    if not scans:
        return None
    local_sql = sqlast.unparse(ast)
    if local_sql is None:
        return None
    local_sql = sqlast.fix_for_spark(local_sql)
    return local_sql, PartialPlan(scans=tuple(scans), local_sql=local_sql)
