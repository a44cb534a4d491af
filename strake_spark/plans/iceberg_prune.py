"""Query-time partition pruning for iceberg_native views.

Reference: crates/connectors/src/sources/iceberg/provider.rs:526-540 —
the provider receives the scan's pushed filters and prunes data files
against partition metadata before planning. On Spark, a temp view built
by ``spark.read.parquet(files...)`` has a FIXED file list, so filter
pushdown into the parquet scan prunes row groups but can never unlist a
file. This module restores file-level pruning for engine.sql queries:

    WHERE region = 'eu' AND event_date >= DATE '2024-04-03'

on an iceberg_native view re-plans the scan over only the files whose
partition metadata can match, by

1. parsing the statement (DuckDB AST, plans/sqlast.py),
2. extracting top-level WHERE conjuncts of shape
   ``col OP constant`` / ``col IN (constants)`` where ``col`` is a
   partition SOURCE column of a registered iceberg_native view
   (identity or hidden transform — the pruner handles both),
3. rebuilding the scan DataFrame via
   sources.iceberg_native.pruned_files_and_df (manifest-summary +
   per-entry pruning) when the extra predicates strictly shrink the
   file list, and
4. rewriting the statement's table ref to a private name, which
   ``plan_sql`` binds to the pruned scan for one statement only
   (plans/binding.py).

Safety model (same as partial.py rule 1): the extracted predicates are
NEVER removed from the statement — Spark still evaluates the full WHERE
over the pruned scan, and read_iceberg_table additionally re-applies the
partition filter. Pruning that keeps too many files costs only I/O;
pruning can only drop files whose partition metadata PROVES no row can
match (conservative interval/transform tests in iceberg_native).

At 100 TB this is the difference between planning a scan over every
live file of the table and opening only the queried partitions' files —
the reference's iceberg_partitioning.rs behavior, now for ad-hoc SQL
instead of just registration-time filters.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from strake_spark.plans import sqlast
from strake_spark.plans.binding import private_name

log = logging.getLogger("strake_spark.federation.iceberg_prune")

# the pruner's operator spelling for each comparison
_PRUNER_OPS = {t: {"=": "==", "<>": "!="}.get(op, op) for t, op in sqlast.COMPARE_OPS.items()}
_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "==": "==", "!=": "!="}


class _Skip(Exception):
    """Conjunct not usable for pruning (never an error — keep the file)."""


def _literal(node) -> object:
    """CONSTANT or CAST(CONSTANT AS DATE/TIMESTAMP/...) -> plain Python
    literal for the pruner. Date/timestamp casts keep the inner ISO
    string — iceberg_native._coerce_literal / _time_transform_value
    understand ISO text for date/timestamp-typed partition columns."""
    while (isinstance(node, dict) and node.get("class") == "CAST"
           and node.get("type") == "OPERATOR_CAST"):
        node = node.get("child") or {}
    if not isinstance(node, dict) or node.get("class") != "CONSTANT":
        raise _Skip
    try:
        value, tid = sqlast.constant(node)
    except ValueError:
        raise _Skip from None
    if value is None or tid == "BOOLEAN":
        raise _Skip  # col OP NULL keeps nothing; leave that to Spark
    return float(value) if tid == "DECIMAL" else value


def _extract_pred(node: dict, view_cols, alias: str, others: set[str]):
    """One WHERE conjunct -> (col, op, literal) triple, or _Skip. The
    column must be a partition column the target view owns
    (``sqlast.owned_column``)."""

    def col(ref) -> str:
        if not isinstance(ref, dict) or ref.get("class") != "COLUMN_REF":
            raise _Skip
        owned = sqlast.owned_column(ref.get("column_names", []), view_cols, alias, others)
        if owned is None:
            raise _Skip
        return owned

    cls, typ = node.get("class"), node.get("type")
    if cls == "COMPARISON" and typ in _PRUNER_OPS:
        left, right = node.get("left"), node.get("right")
        op = _PRUNER_OPS[typ]
        try:
            return (col(left), op, _literal(right))
        except _Skip:
            return (col(right), _FLIP[op], _literal(left))
    ch = node.get("children", [])
    if cls == "OPERATOR" and typ == "COMPARE_IN" and len(ch) >= 2:
        return (col(ch[0]), "in", [_literal(c) for c in ch[1:]])
    if cls == "OPERATOR" and typ in ("OPERATOR_IS_NULL", "OPERATOR_IS_NOT_NULL") and len(ch) == 1:
        return (col(ch[0]), "is_null" if typ == "OPERATOR_IS_NULL" else "not_null", None)
    raise _Skip


@dataclass
class PrunedScan:
    view: str
    temp_view: str
    files_before: int
    files_after: int
    preds: tuple


@dataclass
class IcebergPrunePlan:
    """Reported through explain_tree/trace like a pushdown plan: this
    IS scan pushdown — partition predicates reached the file listing."""

    scans: tuple[PrunedScan, ...]
    # each pruned scan's DataFrame under its temp_view, bound only while
    # a statement is analyzed (plans/binding.py)
    relations: dict[str, DataFrame] = field(default_factory=dict, repr=False)

    @property
    def rewritten_sql(self) -> str:
        """Human-readable summary: each view's kept files and predicates."""
        return "; ".join(
            f"{s.view}: {s.files_after}/{s.files_before} files "
            f"({', '.join(f'{c} {o} {v!r}' for c, o, v in s.preds)})"
            for s in self.scans
        )


def analyze_iceberg_prune(spark: SparkSession, sql: str):
    """Returns (rewritten_sql, IcebergPrunePlan) when at least one
    registered iceberg_native view's scan shrinks under the statement's
    partition predicates; None otherwise. Never raises for analysis
    problems — pruning is an optimization, the original statement is
    always a correct plan."""
    from strake_spark.sources.iceberg_native import (
        ICEBERG_VIEWS,
        pruned_files_and_df,
    )

    if not ICEBERG_VIEWS:
        return None
    ast = sqlast.parse(sql)
    if ast is None:
        return None
    select = sqlast.top_select(ast)
    if select is None:
        return None
    ctes = sqlast.cte_names(ast)
    base_nodes = sqlast.from_tables(select)
    conjuncts = sqlast.conjuncts(select.get("where_clause"))
    if not base_nodes or not conjuncts:
        return None

    # bare-name ambiguity: lower-cased columns of the OTHER base tables
    def cols_of(name: str) -> set[str]:
        try:
            return {c.lower() for c in spark.table(name).columns}
        except Exception:  # noqa: BLE001 - unknown table: no claim
            return set()

    resolved = []
    for node in base_nodes:
        name = node.get("table_name", "")
        if name.lower() in ctes:
            continue
        info = ICEBERG_VIEWS.get(name) or ICEBERG_VIEWS.get(name.lower())
        resolved.append((node, name, info, cols_of(name)))

    plan = IcebergPrunePlan(scans=())
    for node, name, info, _ in resolved:
        if info is None or not info.partition_cols:
            continue
        others: set[str] = set()
        for n2, _, _, cols2 in resolved:
            if n2 is not node:
                others |= cols2
        alias = node.get("alias") or name
        preds = []
        for c in conjuncts:
            try:
                preds.append(_extract_pred(c, info.partition_cols, alias, others))
            except _Skip:
                continue
        if not preds:
            continue
        try:
            result = pruned_files_and_df(spark, info, preds)
        except Exception as e:  # noqa: BLE001 - metadata drift: keep original
            log.warning("iceberg prune re-plan failed for %s (%s)", name, e)
            continue
        if result is None:
            continue
        before, after, df = result
        temp = private_name("strake_iceprune")
        sqlast.retarget(node, temp, name)
        plan.scans += (PrunedScan(name, temp, before, after, tuple(preds)),)
        plan.relations[temp] = df

    if not plan.scans:
        return None
    rewritten = sqlast.unparse(ast)
    if rewritten is None:
        return None
    # NB: returned in DuckDB-parseable form (double-quoted identifiers
    # et al), NOT Spark form — the planning ladder may feed it back
    # through the AST machinery (partial pushdown); the caller applies
    # sqlast.fix_for_spark before handing it to spark.sql.
    return rewritten, plan
