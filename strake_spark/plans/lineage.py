"""Column-level lineage: output column -> contributing base columns.

The reference's SQL generator tracks per-column provenance through
every scope to unparse federated subtrees correctly
(crates/sql/src/sql_generator/context.rs: ColumnEntry{name, type,
source_alias, provenance, unique_id}). This module surfaces the same
information as a USER-facing governance API: for a SELECT statement,
which registered view columns feed each output column. Uses:

- masking audit: does any output derive from a column a policy masks?
- impact analysis: which saved queries break if a source drops a column?
- data contracts: verify a pipeline only reads the columns it declares.

Resolution walks the DuckDB-serialized AST (the planner's one parse
layer, plans/sqlast.py) with a scope chain: base tables
resolve through ``spark.table(name)`` schemas; derived tables and CTEs
resolve recursively; set operations merge positionally. Output
lineage is SELECT-clause (direct) lineage; the columns steering which
ROWS appear (WHERE / HAVING / QUALIFY / join conditions, at every
nesting level) are reported separately under ``filters`` — that set is
what a masking audit must ALSO check, since selecting rows BY a masked
value leaks it without displaying it. Best-effort by design —
unresolvable references are reported under ``unresolved`` rather than
guessed silently.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from strake_spark.plans import sqlast


@dataclass
class _Scope:
    """One FROM-clause relation visible to column resolution."""

    alias: str
    kind: str  # 'base' | 'derived'
    table: str = ""  # base: registered view name
    columns: list[str] = field(default_factory=list)  # base: schema columns
    outputs: list[tuple[str, set[str]]] = field(default_factory=list)  # derived


def _expr_column_refs(node, out: list[list[str]], subs: list[dict]) -> None:
    """Column refs in an expression tree; expression subqueries
    (scalar/IN/EXISTS) are NOT descended — they resolve against their
    own scopes — but are collected into ``subs`` so the caller can
    recurse with a fresh resolution (their outputs feed the enclosing
    expression; their internal filters land in the global filter set)."""
    out.extend(sqlast.column_refs(node, skip={"subquery"}))
    subs.extend(
        n["subquery"]["node"] for n in sqlast.nodes(node, skip={"subquery"})
        if isinstance(n.get("subquery"), dict) and isinstance(n["subquery"].get("node"), dict)
    )


class _Resolver:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.unresolved: set[str] = set()
        # base columns that determine WHICH rows appear (WHERE / HAVING /
        # QUALIFY / join conditions) — a masked column used here is an
        # inference channel even when it never reaches the output
        self.filters: set[str] = set()

    def _base_columns(self, name: str) -> list[str] | None:
        try:
            return list(self.spark.table(name).columns)
        except Exception:
            return None

    # ---------------------------------------------------------- scopes
    def _scopes_from(self, node, ctes: dict[str, list[tuple[str, set[str]]]]) -> list[_Scope]:
        if not isinstance(node, dict):
            return []
        t = node.get("type")
        if t == "BASE_TABLE":
            name = node.get("table_name", "")
            alias = node.get("alias") or name
            low = name.lower()
            if low in ctes:
                return [_Scope(alias=alias.lower(), kind="derived", outputs=ctes[low])]
            cols = self._base_columns(name)
            if cols is None:
                self.unresolved.add(name)
                cols = []
            return [_Scope(alias=alias.lower(), kind="base", table=name, columns=cols)]
        if t == "SUBQUERY":
            inner = (node.get("subquery") or {}).get("node")
            outputs = self.resolve(inner, ctes) if isinstance(inner, dict) else []
            alias = (node.get("alias") or "").lower()
            return [_Scope(alias=alias, kind="derived", outputs=outputs)]
        if t == "JOIN":
            return self._scopes_from(node.get("left"), ctes) + self._scopes_from(
                node.get("right"), ctes
            )
        return []

    # ------------------------------------------------------- resolution
    def _resolve_ref(self, names: list[str], scopes: list[_Scope]) -> set[str]:
        col = names[-1]
        qual = names[-2].lower() if len(names) >= 2 else None
        hits: set[str] = set()
        col_l = col.lower()
        for sc in scopes:
            if qual is not None and sc.alias != qual:
                continue
            if sc.kind == "base":
                canon = next((c for c in sc.columns if c.lower() == col_l), None)
                if canon is not None:
                    hits |= {f"{sc.table}.{canon}"}
                elif qual is not None and not sc.columns:
                    hits |= {f"{sc.table}.{col}"}
            else:
                for name, srcs in sc.outputs:
                    if name.lower() == col.lower():
                        hits |= srcs
            if qual is not None and hits:
                break
        if not hits:
            self.unresolved.add(".".join(names))
        return hits

    def _collect_filters(self, node: dict, scopes: list[_Scope], ctes: dict) -> None:
        parts = [node.get("where_clause"), node.get("having"), node.get("qualify")]

        def join_conditions(n):
            if isinstance(n, dict):
                if n.get("type") == "JOIN" and n.get("condition"):
                    parts.append(n["condition"])
                for v in (n.get("left"), n.get("right")):
                    join_conditions(v)

        join_conditions(node.get("from_table"))
        for part in parts:
            if part is None:
                continue
            refs: list[list[str]] = []
            subs: list[dict] = []
            _expr_column_refs(part, refs, subs)
            for names in refs:
                self.filters |= self._resolve_ref(names, scopes)
            for sub in subs:
                # a filter-position subquery's VALUE steers rows: its
                # output sources are filter sources; its internal
                # filters are recorded by the recursive resolve
                for _, srcs in self.resolve(sub, ctes):
                    self.filters |= srcs

    def resolve(
        self, node: dict, outer_ctes: dict[str, list[tuple[str, set[str]]]] | None = None
    ) -> list[tuple[str, set[str]]]:
        """Outputs of a select-like node: [(name, contributing base cols)]."""
        ctes = dict(outer_ctes or {})
        if not isinstance(node, dict):
            return []
        # cte_map lives on the QueryNode base class, so a WITH attached
        # to a set operation carries its CTEs on the SET_OPERATION_NODE
        cm = node.get("cte_map") or {}
        for entry in cm.get("map", []):
            q = (entry.get("value") or {}).get("query")
            if isinstance(q, dict) and isinstance(q.get("node"), dict):
                ctes[entry["key"].lower()] = self.resolve(q["node"], ctes)
        t = node.get("type")
        if t == "SET_OPERATION_NODE":
            left = self.resolve(node.get("left"), ctes)
            right = self.resolve(node.get("right"), ctes)
            out = []
            for i, (name, srcs) in enumerate(left):
                rsrcs = right[i][1] if i < len(right) else set()
                out.append((name, srcs | rsrcs))
            return out
        if t != "SELECT_NODE":
            return []
        scopes = self._scopes_from(node.get("from_table"), ctes)
        self._collect_filters(node, scopes, ctes)
        outputs: list[tuple[str, set[str]]] = []
        for i, item in enumerate(node.get("select_list", [])):
            if not isinstance(item, dict):
                continue
            if item.get("type") == "STAR":
                rel = (item.get("relation_name") or "").lower()
                for sc in scopes:
                    if rel and sc.alias != rel:
                        continue
                    if sc.kind == "base":
                        for c in sc.columns:
                            outputs.append((c, {f"{sc.table}.{c}"}))
                    else:
                        outputs.extend(sc.outputs)
                continue
            refs: list[list[str]] = []
            subs: list[dict] = []
            _expr_column_refs(item, refs, subs)
            srcs: set[str] = set()
            for names in refs:
                srcs |= self._resolve_ref(names, scopes)
            for sub in subs:  # scalar subquery value feeds this output
                for _, ssrcs in self.resolve(sub, ctes):
                    srcs |= ssrcs
            name = item.get("alias")
            if not name:
                if item.get("type") == "COLUMN_REF" and item.get("column_names"):
                    name = item["column_names"][-1]
                else:
                    name = f"col{i}"
            outputs.append((name, srcs))
        return outputs


def column_lineage(spark: SparkSession, sql: str) -> dict:
    """Namespaced report — a governance surface must never collide a
    reserved key with a user column alias:

        {"outputs": {name: [view.column, ...]},   # duplicates union
         "filters": [view.column, ...],           # row-steering columns
         "unresolved": [ref, ...]}

    Raises ValueError when the statement does not parse: an audit that
    cannot analyze must FAIL, not report all-clear."""
    ast = sqlast.parse(sql)
    stmts = (ast or {}).get("statements") or []
    if not stmts:
        raise ValueError("lineage: statement did not parse")
    r = _Resolver(spark)
    outputs = r.resolve(stmts[0].get("node", {}))
    merged: dict[str, set[str]] = {}
    for name, srcs in outputs:
        merged.setdefault(name, set()).update(srcs)
    return {
        "outputs": {name: sorted(srcs) for name, srcs in merged.items()},
        "filters": sorted(r.filters),
        "unresolved": sorted(r.unresolved),
    }
