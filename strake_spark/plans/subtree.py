"""Subquery-level same-source federation.

The whole-statement path (plans/federation.py) only fires when ONE
remote engine owns EVERY table in the statement. The reference's
federation rule is finer-grained: it finds MAXIMAL same-source plan
subtrees and ships each one, even inside an otherwise-local query
(datafusion-federation's FederationOptimizerRule, registered at
crates/runtime/src/federation.rs:232 — subtree grouping keyed by
SQLExecutor::compute_context). This module closes that gap for the
subtree shapes that are provably safe to ship from SQL text alone:

- a CTE whose body references only tables of one remote source, and
- a derived table (subquery in FROM) with the same property.

A shipped subtree executes remotely — the join/aggregate reduction
happens inside the source engine, and Spark scans only the (small)
result, bound for one statement only (plans/binding.py). The rewritten
outer statement then continues down the existing ladder, so iceberg
partition pruning and per-table partial pushdown still apply to the
remaining local portion.

Safety rules (violations degrade to the next ladder rung, never error):

- every base table inside the subtree resolves to the SAME remote
  context with a ``push_query`` transport; inner CTEs are fine (the
  remote engine evaluates them), references to OUTER CTEs are not;
- every qualified column reference inside the subtree must use a
  qualifier defined inside it, and every unqualified reference must
  match a known inner column or alias — this simultaneously rejects
  correlated (LATERAL) subqueries, which DuckDB's serialized AST does
  not explicitly mark, and guarantees remote resolvability.

At 100 TB this is the reference's headline win generalized: a
same-source join-then-aggregate that reduces 10^9 rows to 10^3 ships
10^3 across the wire even when the outer query also touches parquet.
"""

from __future__ import annotations

import copy
import logging
from dataclasses import dataclass

from pyspark.sql import SparkSession

from strake_spark.plans import sqlast
from strake_spark.plans.binding import private_name
from strake_spark.plans.dialects import rename_functions, rules_for
from strake_spark.plans.federation import _rewrite_remote_ref, resolve_remotes
from strake_spark.plans.partial import PushedScan
from strake_spark.sources.registry import REMOTE_TABLES, RemoteTable

log = logging.getLogger("strake_spark.federation.subtree")


@dataclass
class SubtreeResult:
    duck_sql: str  # rewritten statement, DuckDB-parseable (ladder input)
    spark_sql: str  # same statement respelled for spark.sql
    scans: tuple  # PushedScan per shipped subtree


def _reduces(q_node: dict, n_tables: int) -> bool:
    """Ship only subtrees that REDUCE data remotely: an aggregate,
    DISTINCT, LIMIT, or a multi-table join. A bare filter/projection is
    better served by the partial-pushdown rung, whose partitioned scan
    parallelizes the transfer instead of pulling through the single
    push_query connection."""
    return n_tables > 1 or sqlast.reduces(q_node)


def _try_push_subtree(
    spark: SparkSession, q_node: dict, outer_ctes: set[str]
) -> tuple[str, RemoteTable] | None:
    """If the subtree rooted at ``q_node`` is single-remote-source,
    scope-closed, and REDUCING, return (remote_sql, representative)."""
    refs = sqlast.base_tables(q_node)
    if any(node["table_name"].lower() in outer_ctes for node in refs):
        return None  # leans on an outer CTE -> local
    remotes, local = resolve_remotes(refs)
    if local or not remotes or any(r.push_query is None for _, r in remotes):
        return None
    if len({r.context() for _, r in remotes}) != 1:
        return None
    if not _reduces(q_node, len(remotes)):
        return None

    # scope closure: qualified refs must use inner qualifiers; unqualified
    # refs must be known inner columns or select aliases
    inner_quals = sqlast.cte_names(q_node) | {
        (n.get("alias") or n.get("table_name")).lower() for n in sqlast.nodes(q_node)
        if (n.get("type") == "BASE_TABLE" and n.get("table_name"))
        or (n.get("type") == "SUBQUERY" and n.get("alias"))
    }
    # select-list aliases anywhere in the subtree (HAVING/ORDER BY may
    # reference them unqualified)
    allowed_unqual = {
        e["alias"].lower() for n in sqlast.nodes(q_node)
        for e in n.get("select_list") or [] if isinstance(e, dict) and e.get("alias")
    }
    for node, _ in remotes:
        try:
            allowed_unqual.update(c.lower() for c in spark.table(node["table_name"]).columns)
        except Exception:
            return None
    for names in sqlast.column_refs(q_node):
        if len(names) >= 2:
            if names[-2].lower() not in inner_quals:
                return None
        elif names[-1].lower() not in allowed_unqual:
            return None

    rep = remotes[0][1]
    q_copy = copy.deepcopy(q_node)
    # strict-contract views become inline projected subqueries so the
    # shipped subtree can't expose undeclared columns
    for node, remote in resolve_remotes(sqlast.base_tables(q_copy))[0]:
        if not _rewrite_remote_ref(node, remote):
            return None
    rename_functions(q_copy, rules_for(rep.dialect))
    pushed = sqlast.unparse({"error": False, "statements": [{"node": q_copy}]})
    if pushed is None:
        return None
    return rules_for(rep.dialect).fix_text(pushed), rep


def analyze_subtrees(spark: SparkSession, sql: str) -> SubtreeResult | None:
    """Find and ship maximal single-source CTEs / derived tables.
    Returns None when nothing ships (then the existing ladder applies
    unchanged)."""
    if not REMOTE_TABLES:
        return None
    ast = sqlast.parse(sql)
    if ast is None:
        return None
    all_ctes = sqlast.cte_names(ast)
    scans: list = []

    def ship(q_node: dict, outer_ctes: set[str], view: str | None) -> str | None:
        """The private name of ``q_node``'s shipped relation, or None."""
        hit = _try_push_subtree(spark, q_node, outer_ctes)
        if hit is None:
            return None
        remote_sql, rep = hit
        temp = private_name("strake_sub")
        scans.append(PushedScan(view=view or temp, temp_view=temp,
                                remote_sql=remote_sql, context=rep.context()))
        return temp

    def visit(node) -> None:
        if isinstance(node, dict):
            cte = node.get("cte_map")
            if isinstance(cte, dict):
                for entry in cte.get("map", []):
                    q = (entry.get("value") or {}).get("query")
                    if isinstance(q, dict) and isinstance(q.get("node"), dict):
                        temp = ship(q["node"], all_ctes - {entry["key"].lower()}, entry["key"])
                        if temp is not None:
                            q["node"] = sqlast.select_star(temp)
                            continue
                        visit(q)
            if (
                node.get("type") == "SUBQUERY"
                and isinstance(node.get("subquery"), dict)
                # tableref subqueries only: expression subqueries
                # (scalar/IN/EXISTS) carry subquery_type and must NOT
                # be replaced with a BASE_TABLE in expression position
                and "subquery_type" not in node
            ):
                inner = node["subquery"].get("node")
                if isinstance(inner, dict):
                    temp = ship(inner, all_ctes, node.get("alias"))
                    if temp is not None:
                        sqlast.retarget(node, temp, temp)
                        return
                    visit(node["subquery"])
                for k, v in node.items():
                    if k != "subquery":
                        visit(v)
                return
            for k, v in node.items():
                if k != "cte_map":
                    visit(v)
        elif isinstance(node, list):
            for v in node:
                visit(v)

    visit(ast)
    if not scans:
        return None
    duck_sql = sqlast.unparse(ast)
    if duck_sql is None:
        return None
    return SubtreeResult(
        duck_sql=duck_sql, spark_sql=sqlast.fix_for_spark(duck_sql), scans=tuple(scans)
    )
