"""Row-level security + column masking via per-user view rewriting.

Reference surface: config/policies.yaml:1-20 (rls_filter + masking per
role/resource), crates/common/src/auth.rs:8-94 (MaskingRule,
TableRules{rls_filter, masking}); enforcement described in
docs/enterprise.md:24-40 as a "policy rewriter" injecting filters at
plan level (the enterprise crate itself is closed-source — this is a
fresh design of the documented behavior).

Spark design: for each (table, role-set) we register a SECURED TEMP VIEW
``<table>__rls_<sig>`` = SELECT <masked columns> FROM table WHERE
<ANDed rls filters>, lazily composed (no materialization — Catalyst
inlines the view, so the RLS predicate joins the scan's pushdown
filters and masking collapses into the projection: zero extra shuffles
at any scale). At query time, statements from a governed user have each
policied table identifier consistently renamed to its secured view.

Renaming is quote-aware and identifier-boundary-safe; because the
rename is *consistent* (CTE definitions and references rename
together), semantics are preserved even when a CTE shadows a policied
table name. Multiple roles compose most-restrictively: all filters AND,
all maskings apply.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from strake_spark.sources.registry import catalog_epoch

from strake_spark.errors import ErrorCode, QueryRejected
from strake_spark.governance.gate import lex


@dataclass
class TableRules:
    rls_filter: str | None = None
    masking: dict[str, str] = field(default_factory=dict)  # column -> SQL expr


@dataclass
class PolicyConfig:
    # role -> table(view) name -> rules
    roles: dict[str, dict[str, TableRules]] = field(default_factory=dict)
    # user -> roles
    users: dict[str, list[str]] = field(default_factory=dict)

    @property
    def enabled(self) -> bool:
        return bool(self.roles)


def parse_policies(raw: dict | None) -> PolicyConfig:
    """Accepts BOTH spellings: the compact dict shape
    (``roles: {r: {tables: {view: {rls_filter, masking}}}}``,
    ``users: {u: [roles]}``) and the reference's list shape
    (config/policies.yaml: ``roles: [{name, policies: [{resource,
    rls_filter, masking}]}]``, ``users: [{id, roles}]``). Reference
    ``resource`` names convert dots to underscores (the same rule as
    contracts' resolve_view: 'pg.orders' -> 'pg_orders'); a wildcard
    resource carrying actual rules raises — silently ignoring a
    filter/masking would be a policy hole, and the reference's own
    example uses '*' only with null rules (full access)."""
    raw = raw or {}
    roles: dict[str, dict[str, TableRules]] = {}
    raw_roles = raw.get("roles") or {}
    if isinstance(raw_roles, list):
        raw_roles = {
            r["name"]: {
                "tables": _tables_from_policy_list(r.get("policies") or [])
            }
            for r in raw_roles
        }
    for role, spec in raw_roles.items():
        tables: dict[str, TableRules] = {}
        for tname, rules in (spec.get("tables") or {}).items():
            tables[tname] = TableRules(
                rls_filter=rules.get("rls_filter"),
                masking=dict(rules.get("masking") or {}),
            )
        roles[role] = tables
    raw_users = raw.get("users") or {}
    if isinstance(raw_users, list):
        raw_users = {u["id"]: u.get("roles") or [] for u in raw_users}
    users = {u: list(rs) for u, rs in raw_users.items()}
    return PolicyConfig(roles=roles, users=users)


def _tables_from_policy_list(policies: list) -> dict:
    tables: dict[str, dict] = {}
    for p in policies:
        resource = str(p.get("resource", ""))
        if resource in ("*", ""):
            if p.get("rls_filter") or p.get("masking"):
                raise ValueError(
                    "policies: wildcard resource '*' cannot carry rls_filter/"
                    "masking — name the tables explicitly (a silently-ignored "
                    "rule would be a policy hole)"
                )
            continue  # null rules on * = unrestricted, nothing to record
        view = resource.replace(".", "_")
        entry = tables.setdefault(view, {"rls_filter": None, "masking": {}})
        if p.get("rls_filter"):
            entry["rls_filter"] = (
                f"({entry['rls_filter']}) AND ({p['rls_filter']})"
                if entry["rls_filter"]
                else p["rls_filter"]
            )
        entry["masking"].update(p.get("masking") or {})
    return tables


def _role_sig(roles: tuple[str, ...]) -> str:
    return "_".join(sorted(roles))


def secured_view_name(table: str, roles: tuple[str, ...]) -> str:
    return f"{table}__rls_{_role_sig(roles)}"


def effective_rules(policy: PolicyConfig, roles: tuple[str, ...]) -> dict[str, TableRules]:
    """Most-restrictive composition across the user's roles: filters
    AND together, maskings union (any role masking a column masks it)."""
    out: dict[str, TableRules] = {}
    for role in roles:
        for table, rules in policy.roles.get(role, {}).items():
            eff = out.setdefault(table, TableRules())
            if rules.rls_filter:
                eff.rls_filter = (
                    f"({eff.rls_filter}) AND ({rules.rls_filter})"
                    if eff.rls_filter
                    else rules.rls_filter
                )
            eff.masking.update(rules.masking)
    return out


def register_secured_views(
    spark: SparkSession, policy: PolicyConfig, roles: tuple[str, ...]
) -> dict[str, str]:
    """Create the secured views for a role-set; returns table -> view."""
    mapping: dict[str, str] = {}
    for table, rules in effective_rules(policy, roles).items():
        base = spark.table(table)
        cols = []
        for f in base.schema.fields:
            if f.name in rules.masking:
                cols.append(f"{rules.masking[f.name]} AS `{f.name}`")
            else:
                cols.append(f"`{f.name}`")
        sql = f"SELECT {', '.join(cols)} FROM `{table}`"
        if rules.rls_filter:
            sql += f" WHERE {rules.rls_filter}"
        view = secured_view_name(table, roles)
        spark.sql(sql).createOrReplaceTempView(view)
        mapping[table] = view
    return mapping


_IDENT = r"(?<![A-Za-z0-9_])({names})(?![A-Za-z0-9_])"
_IDENTIFIER_CLAUSE = re.compile(r"(?<![A-Za-z0-9_])IDENTIFIER\s*\(", re.IGNORECASE)


def rename_tables(sql: str, mapping: dict[str, str]) -> str:
    """Consistently rename identifiers outside string literals (so a
    literal 'orders' is never corrupted), cut where Spark's lexer cuts
    them; comments are renamed too, as hints name tables there."""
    if not mapping:
        return sql
    pattern = re.compile(
        _IDENT.format(names="|".join(re.escape(t) for t in sorted(mapping, key=len, reverse=True))),
        re.IGNORECASE,
    )
    return "".join(
        text if kind == "string" else pattern.sub(lambda m: mapping[m.group(1).lower()], text)
        for kind, text in lex(sql)
    )


def names_secured_view(sql: str, tables: set[str]) -> bool:
    """Whether ``sql`` names a secured view of one of ``tables`` (any
    ``<table>__rls_...`` outside string literals, comments included),
    or names a table by a string: ``IDENTIFIER(<string>)`` names one no
    rename can follow. Judged on the text, so a statement no parser
    reads is judged too."""
    if not tables:
        return False
    pattern = re.compile(
        r"(?<![A-Za-z0-9_])(?:" + "|".join(re.escape(t) for t in sorted(tables)) + r")__rls_",
        re.IGNORECASE,
    )
    runs = lex(sql)
    code = "".join(text if kind == "code" else " " for kind, text in runs)
    return bool(_IDENTIFIER_CLAUSE.search(code)) or any(
        kind != "string" and pattern.search(text) for kind, text in runs
    )


class PolicyEnforcer:
    """Engine-side facade: resolves a user to secured-view mappings,
    registering them on first use."""

    def __init__(self, spark: SparkSession, policy: PolicyConfig) -> None:
        self.spark = spark
        self.policy = policy
        # roles -> (catalog epoch, table -> secured view)
        self._registered: dict[tuple[str, ...], tuple[int, dict[str, str]]] = {}
        self._tables = {t for rules in policy.roles.values() for t in rules}

    def rewrite(self, sql: str, user: str | None) -> str:
        if not self.policy.enabled or user is None:
            # no principal: every table reads unfiltered (the engine
            # also plans its own rewritten text this way)
            return sql
        # a secured view holds some role set's rows: only the rename
        # below may name one, and it cannot follow a name in IDENTIFIER()
        if names_secured_view(sql, self._tables):
            raise QueryRejected(
                "statement names a row-level-security view, or a table by IDENTIFIER(); "
                "name the table instead",
                code=ErrorCode.AUTHORIZATION_DENIED,
            )
        roles = tuple(sorted(self.policy.users.get(user, ())))
        if not roles:
            # unknown users get nothing when policies are on (deny-by-
            # default would break anonymous internal use; the reference
            # is read-only + permissive outside enterprise, we follow)
            return sql
        # a secured view captures its base view's plan when created, so
        # it is rebuilt after any (re-)registration (the epoch moves)
        epoch = catalog_epoch()
        entry = self._registered.get(roles)
        if entry is None or entry[0] != epoch:
            entry = (epoch, register_secured_views(self.spark, self.policy, roles))
            self._registered[roles] = entry
        mapping = {t.lower(): v for t, v in entry[1].items()}
        return rename_tables(sql, mapping)
