"""Same-source query pushdown — the Spark re-expression of the
reference's federation machinery.

The reference's single largest subsystem finds maximal same-source plan
subtrees and unparses them back to remote SQL (datafusion-federation's
FederationOptimizerRule registered at crates/runtime/src/federation.rs:232;
unparser in crates/sql/src/sql_generator/translator/mod.rs:76-145; source
identity = SQLExecutor::compute_context, crates/connectors/src/sources/
sql/postgres_federation.rs:46-49). That buys one thing: joins/aggregates
between tables living in the SAME external engine run *inside* that
engine, so only the (small) result crosses the wire instead of the
(huge) base tables.

Spark-first design:

- **Parse, don't regex.** DuckDB's parser gives a full SQL AST, read
  once per statement through plans/sqlast.py; we walk it for
  base-table references (minus CTE names) and map each through the
  source registry's ``REMOTE_TABLES`` provenance.
- **Whole-statement pushdown** when every referenced table resolves to
  one remote context: rewrite view names -> remote table names by
  mutating the AST and deserializing back to SQL (``sqlast.unparse``),
  then execute via the source's own DataSource ``query`` option. The
  remote engine does the join/agg; the Spark scan sees only the result
  rows, and ``StrakeEngine.execute`` reads them on the driver, with no
  Spark job, when the source has a driver ``fetch``.
- **Graceful degradation**: mixed-source or unparseable queries run on
  Spark, where each scan still gets per-source filter/column pushdown
  (pushsql.py) — the same split as the reference's LocalExecution path
  (crates/sql/src/dialect_router.rs:28-100). A remote execution error
  also falls back to local execution (their circuit-breaker fallback
  analog) unless fallback is disabled.
- **Pushed relations live for one statement** (plans/binding.py), as a
  federated subtree is a node of one statement's plan in the reference:
  ``plan_sql`` binds each rung's relations for the ladder only.

At 100 TB the win is exactly the reference's: a same-source
join-then-aggregate that reduces 10^9 rows to 10^3 should ship 10^3.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from strake_spark.plans import sqlast
from strake_spark.plans.binding import bound
from strake_spark.plans.dialects import rename_functions, rules_for
from strake_spark.sources.registry import REMOTE_TABLES, RemoteTable

log = logging.getLogger("strake_spark.federation")


def resolve_remotes(
    refs: list[dict], ctes: set[str] = frozenset()
) -> tuple[list[tuple[dict, RemoteTable]], list[str]]:
    """Resolve BASE_TABLE nodes through the source registry's remote
    provenance: (node, RemoteTable) for each remote-backed view, and the
    names of the local rest, in walk order. References to ``ctes`` are
    neither."""
    remotes: list[tuple[dict, RemoteTable]] = []
    local: list[str] = []
    for node in refs:
        name = node["table_name"]
        if name.lower() in ctes:
            continue
        remote = REMOTE_TABLES.get(name) or REMOTE_TABLES.get(name.lower())
        if remote is None:
            local.append(name)
        else:
            remotes.append((node, remote))
    return remotes, local


def _rewrite_remote_ref(node: dict, remote: RemoteTable) -> bool:
    """Point a BASE_TABLE tableref at the remote physical table,
    IN PLACE. For a strict-contract (closed-schema) view the bare
    physical table would expose columns the local projected view hides,
    so the ref becomes an inline subquery projecting exactly the
    declared columns — `(SELECT a, b FROM physical) AS view` — which
    keeps the reference's contracts.yaml:12 guarantee ("querying
    columns NOT listed will fail") intact under pushdown: the remote
    engine itself rejects unlisted columns, and SELECT * expands to the
    declared set, matching embedded-mode semantics. Returns False when
    the guard cannot be built (caller must not push)."""
    from strake_spark.governance.contracts import STRICT_VIEWS

    name = node["table_name"]
    strict_cols = STRICT_VIEWS.get(name) or STRICT_VIEWS.get(name.lower())
    if not strict_cols:
        node["table_name"] = remote.table
        # the remote namespace replaces any qualifier that named our view
        node["schema_name"] = remote.schema or ""
        return True
    from strake_spark.sources.pushsql import quote_ident

    inner = (
        f"SELECT {', '.join(quote_ident(c) for c in strict_cols)} "
        f"FROM {remote.table_sql()}"
    )
    ast = sqlast.parse(inner)
    if ast is None:  # pragma: no cover - quoted idents always parse
        return False
    alias = node.get("alias") or name
    node.clear()
    node.update(
        {
            "type": "SUBQUERY",
            "alias": alias,
            "sample": None,
            "query_location": 18446744073709551615,
            "subquery": {"node": ast["statements"][0]["node"]},
            "column_name_alias": [],
        }
    )
    return True


@dataclass(frozen=True)
class PushdownPlan:
    """A fully-pushable statement: one remote context owns every table."""

    remote: RemoteTable  # representative (context/dialect/url)
    rewritten_sql: str
    views: tuple[str, ...]


def _note(trace, rung: str, status: str, reason: str) -> None:
    """Record a planning-ladder decision (rung, status, reason) into the
    caller-supplied trace list. Mirrors the reference's unsupported-node
    warnings (crates/sql/src/sql_generator/translator/mod.rs:76-145) —
    users debugging "why didn't my query federate" read this, not logs."""
    if trace is not None:
        trace.append((rung, status, reason))


def analyze(sql: str, trace: list | None = None) -> PushdownPlan | None:
    """Decide whole-statement pushdown. Returns None when the query must
    run on Spark (mixed sources, local tables, or unparseable); when
    ``trace`` is given, the specific rejection reason is appended to it."""
    if not REMOTE_TABLES:
        _note(trace, "whole_statement", "rejected", "no remote-backed views registered")
        return None
    ast = sqlast.parse(sql)
    if ast is None:
        _note(trace, "whole_statement", "rejected",
              "statement not parseable for AST analysis")
        return None
    remotes, local = resolve_remotes(sqlast.base_tables(ast))
    if local:
        # a local table participates -> Spark executes
        _note(trace, "whole_statement", "rejected",
              f"table {local[0]!r} is not remote-backed")
        return None
    if not remotes:
        only_ctes = any(n.get("type") == "BASE_TABLE" for n in sqlast.nodes(ast))
        _note(trace, "whole_statement", "rejected",
              "statement references only CTEs" if only_ctes
              else "no base-table references")
        return None
    contexts = {remote.context() for _, remote in remotes}
    if len(contexts) != 1:
        _note(trace, "whole_statement", "rejected",
              f"tables span {len(contexts)} remote contexts: "
              f"{', '.join(sorted(contexts))}")
        return None
    rep = remotes[0][1]
    if rep.push_query is None:
        _note(trace, "whole_statement", "rejected",
              f"source {rep.source!r} does not support query pushdown")
        return None
    views = tuple(sorted({node["table_name"] for node, _ in remotes}))
    for node, remote in remotes:
        if not _rewrite_remote_ref(node, remote):
            _note(trace, "whole_statement", "rejected",
                  f"cannot build strict-contract guard for {node.get('table_name')!r}")
            return None  # can't build a strict-contract guard -> local
    # dialect function mapping happens on the AST (nesting/literal-safe)
    rename_functions(ast, rules_for(rep.dialect))
    pushed_sql = sqlast.unparse(ast)
    if pushed_sql is None:
        _note(trace, "whole_statement", "rejected",
              "rewritten AST failed to deserialize to remote SQL")
        return None
    pushed_sql = rules_for(rep.dialect).fix_text(pushed_sql)
    _note(trace, "whole_statement", "pushed", f"to {rep.context()}")
    return PushdownPlan(remote=rep, rewritten_sql=pushed_sql, views=views)


def plan_sql(
    spark: SparkSession,
    sql: str,
    allow_fallback: bool = True,
    trace: list | None = None,
) -> tuple[DataFrame, PushdownPlan | None]:
    """Main entry: returns (DataFrame, pushdown-plan-or-None).

    Planning ladder, mirroring the reference's dialect router: whole-
    statement pushdown (one remote owns everything) -> iceberg_native
    query-time partition pruning (local scan re-planned over only the
    matching files, plans/iceberg_prune.py) -> partial per-table
    pushdown (mixed statement; each remote scan ships its filtered
    projection, plans/partial.py) -> fully local. Pushdown failures
    (remote parse/execute errors from dialect drift) fall back to the
    next rung. When both iceberg pruning and partial pushdown fire, the
    partial plan is reported (the pruning is embedded in the statement
    it rewrote).

    ``trace`` (optional list) collects (rung, status, reason) decisions
    — the reference's unsupported-node warnings surfaced as data, so
    explain_tree can show WHY a statement didn't federate, per rung.

    Every relation a rung binds is dropped before this returns, also on
    failure; the returned DataFrame, analyzed while they were bound,
    still runs.
    """
    plan = analyze(sql, trace=trace)
    if plan is not None:
        try:
            # the schema resolves now, so dialect errors surface here
            df = plan.remote.scan(spark, plan.rewritten_sql)
            df.schema
            return df, plan
        except Exception as e:  # pragma: no cover - dialect drift path
            if not allow_fallback:
                raise
            _note(trace, "whole_statement", "failed",
                  f"remote execution error, falling back: {e}")
            log.warning(
                "pushdown to %s failed (%s); executing locally",
                plan.remote.context(),
                e,
            )
    from strake_spark.plans.iceberg_prune import analyze_iceberg_prune
    from strake_spark.plans.partial import PartialPlan, analyze_partial
    from strake_spark.plans.subtree import analyze_subtrees

    # one binding across the ladder: later rungs resolve the relations
    # earlier rungs bound, and every name is gone when planning returns
    with bound(spark) as binding:
        sub_scans: tuple = ()
        local_sql = sql  # what the final local rung executes (Spark dialect)
        try:
            st = analyze_subtrees(spark, sql)
            if st is None:
                _note(trace, "subtree", "rejected",
                      "no same-source subtree ships a reduction")
            if st is not None:
                # bind first (lazy), then the rewritten outer statement
                # must PARSE AND RESOLVE before it may replace the
                # original; any failure degrades to the unrewritten ladder
                for s in st.scans:
                    binding.bind(s.temp_view, s.frame(spark))
                spark.sql(st.spark_sql).schema
                sql, local_sql, sub_scans = st.duck_sql, st.spark_sql, st.scans
                _note(trace, "subtree", "applied",
                      f"{len(st.scans)} shipped subtree(s)")
                log.info(
                    "subtree pushdown: %s",
                    "; ".join(f"{s.view} -> ({s.remote_sql})" for s in st.scans),
                )
        except Exception as e:  # noqa: BLE001 - subtree shipping is optional
            _note(trace, "subtree", "failed", str(e))
            log.warning("subtree pushdown analysis failed (%s); original plan", e)
        ice_plan = None
        try:
            ice = analyze_iceberg_prune(spark, sql)
            if ice is None:
                _note(trace, "iceberg_prune", "rejected",
                      "no iceberg-backed scan with prunable partition predicates")
            if ice is not None:
                # the pruned statement comes back DuckDB-parseable so the
                # partial-pushdown rung can re-serialize it; its Spark form
                # must PARSE AND RESOLVE before it may replace the original
                # — a deserializer artifact degrades to the unpruned plan,
                # never fails the query
                pruned_raw, plan_candidate = ice
                pruned_spark = sqlast.fix_for_spark(pruned_raw)
                for name, df in plan_candidate.relations.items():
                    binding.bind(name, df)
                spark.sql(pruned_spark).schema
                sql, local_sql, ice_plan = pruned_raw, pruned_spark, plan_candidate
                _note(trace, "iceberg_prune", "applied",
                      f"{len(plan_candidate.scans)} scan(s) pruned")
        except Exception as e:  # noqa: BLE001 - pruning is optional
            _note(trace, "iceberg_prune", "failed", str(e))
            log.warning("iceberg partition-prune analysis failed (%s); original plan", e)
        try:
            partial = analyze_partial(spark, sql)
            if partial is None:
                _note(trace, "partial", "rejected",
                      "no remote scan gains from per-table filter/projection shipping")
            if partial is not None:
                rewritten, pplan = partial
                for s in pplan.scans:
                    binding.bind(s.temp_view, s.frame(spark))
                df = spark.sql(rewritten)
                if sub_scans:  # report shipped subtrees alongside the scans
                    pplan.scans = tuple(sub_scans) + tuple(pplan.scans)
                pplan.relations = dict(binding)
                _note(trace, "partial", "applied", f"{len(pplan.scans)} remote scan(s)")
                return df, pplan
        except Exception as e:  # noqa: BLE001 - any partial failure -> local
            if not allow_fallback:
                raise
            _note(trace, "partial", "failed", str(e))
            log.warning("partial pushdown failed (%s); executing locally", e)
        _note(trace, "local", "applied", "executing on Spark")
        df = spark.sql(local_sql)
        if sub_scans:
            return df, PartialPlan(scans=tuple(sub_scans), local_sql=local_sql,
                                   relations=dict(binding))
        return df, ice_plan
