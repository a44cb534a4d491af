"""Dialect capability + function-mapping layer for the SQL unparser.

Reference: crates/sql/src/dialects/function_mapper.rs:21-117 — a
declarative rename/transform registry — with shipped rule sets for
Oracle (dialects/oracle.rs:60-270, ~40 rules) and Snowflake
(dialects/snowflake.rs:57-120), plus the DialectCapabilities trait
(sql_generator/dialect.rs:8-64: supports_distinct_on,
supports_values_clause, requires_from_dual, map_* hooks).

Here the mapper operates on the serialized SQL AST the federation
planner already holds (plans/sqlast.py): FUNCTION nodes are renamed
per target dialect *before* deserialization, so the rename survives
arbitrary nesting without touching string literals. Post-deserialize
textual fixes (``DialectRules.fix_text``) handle the few spellings that
are not function names (count_star(), quoting style).

Oracle/Snowflake rules are shipped for unparser parity and covered by
golden tests (the reference's dialect test style) even though this
container has no such endpoints to execute against.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from strake_spark.plans import sqlast
from strake_spark.plans.sqlast import _split_literals


@dataclass(frozen=True)
class DialectRules:
    name: str
    # lowercase source function name -> target spelling, applied on
    # FUNCTION nodes in the AST (nesting/literal-safe)
    function_renames: dict[str, str] = field(default_factory=dict)
    # (old, new) applied to the deserialized text — for spellings the
    # AST cannot express as a function rename: COALESCE/IFNULL are
    # normalized to an OPERATOR_COALESCE node at parse time, and
    # count(*) serializes as count_star()
    text_fixes: tuple[tuple[str, str], ...] = ()
    requires_from_dual: bool = False
    supports_values_clause: bool = True
    supports_distinct_on: bool = False

    def fix_text(self, sql: str) -> str:
        """Apply textual fixes OUTSIDE string literals only. A naive
        whole-text replace corrupts pushed literals — e.g. MySQL's
        " -> ` identifier-quoting fix rewriting quotes inside a pushed
        constant makes the remote filter under-inclusive (silent wrong
        results under the partial-pushdown safety model)."""
        fixes = (("count_star()", "count(*)"),) + self.text_fixes
        out = []
        for seg, is_literal in _split_literals(sql):
            if not is_literal:
                for old, new in fixes:
                    seg = seg.replace(old, new)
            out.append(seg)
        return "".join(out)


# Oracle rule set per dialects/oracle.rs:60-270
ORACLE = DialectRules(
    name="oracle",
    function_renames={
        "coalesce": "NVL",
        "ifnull": "NVL",
        "strpos": "INSTR",
        "position": "INSTR",
        "string_agg": "LISTAGG",
        "rand": "DBMS_RANDOM.VALUE",
        "random": "DBMS_RANDOM.VALUE",
        "now": "SYSTIMESTAMP",
        "current_timestamp": "SYSTIMESTAMP",
        "length": "LENGTH",
        "substr": "SUBSTR",
        "substring": "SUBSTR",
        "trunc": "TRUNC",
        "from_unixtime": "TO_TIMESTAMP",
    },
    text_fixes=(("COALESCE(", "NVL("),),
    requires_from_dual=True,
    supports_values_clause=False,
)

# Snowflake rule set per dialects/snowflake.rs:57-120
SNOWFLAKE = DialectRules(
    name="snowflake",
    function_renames={
        "string_agg": "LISTAGG",
        "from_unixtime": "TO_TIMESTAMP",
        "now": "CURRENT_TIMESTAMP",
    },
    text_fixes=(("COALESCE(", "NVL("),),
)

SQLITE = DialectRules(
    name="sqlite",
    function_renames={
        "string_agg": "group_concat",
        "strpos": "instr",
        "now": "datetime",
    },
)

MYSQL = DialectRules(
    name="mysql",
    function_renames={"string_agg": "GROUP_CONCAT", "strpos": "INSTR"},
    text_fixes=(('"', "`"),),
)

POSTGRES = DialectRules(name="postgres", supports_distinct_on=True)
DUCKDB = DialectRules(name="duckdb", supports_distinct_on=True)

RULES: dict[str, DialectRules] = {
    r.name: r
    for r in (ORACLE, SNOWFLAKE, SQLITE, MYSQL, POSTGRES, DUCKDB)
}
RULES["postgresql"] = POSTGRES
RULES["mariadb"] = MYSQL


def rules_for(dialect: str) -> DialectRules:
    return RULES.get(dialect, DialectRules(name=dialect))


def transpile(sql: str, rules: DialectRules) -> str | None:
    """Full transform for goldens/tools: parse -> AST function renames
    -> deserialize -> text fixes. None when unparseable."""
    ast = sqlast.parse(sql)
    if ast is None:
        return None
    rename_functions(ast, rules)
    out = sqlast.unparse(ast)
    return None if out is None else rules.fix_text(out)


def rename_functions(ast, rules: DialectRules) -> None:
    """In-place rename of FUNCTION nodes in a serialized SQL AST —
    nesting-safe and literal-safe because it never touches text."""
    if not rules.function_renames:
        return
    for node in sqlast.nodes(ast):
        if node.get("class") == "FUNCTION" and "function_name" in node:
            new = rules.function_renames.get(str(node["function_name"]).lower())
            if new:
                node["function_name"] = new
