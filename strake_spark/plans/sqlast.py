"""The planner's one SQL-AST layer: DuckDB's ``json_serialize_sql`` tree,
parsed once per statement text and walked with one set of helpers.

Every planning rung (whole-statement, subtree, iceberg pruning, partial
pushdown), lineage, the dialect mapper and the engine's table lookup
read the same parse: ``parse`` memoizes the serialized JSON by text and
hands each caller a fresh tree, so a rung may rewrite its tree in place
without the next rung seeing it. This is the only module that calls
DuckDB's AST functions. The reference resolves references once, with one
scope machinery (crates/sql/src/sql_generator/context.rs).
"""

from __future__ import annotations

import decimal
import functools
import json
import re
import threading

_ast_lock = threading.Lock()
_ast_con: object | None = None


def _ast_execute(stmt: str, params: list) -> object:
    """Run one AST (de)serialization statement on a single lock-guarded
    shared in-memory DuckDB connection. A fresh connect() costs ~8 ms,
    dominating parse time. A shared connection (not threading.local):
    the REST server is thread-per-request, so per-thread caching never
    amortized there and cleanup depended on thread death + GC — one
    global connection amortizes across requests and has an explicit
    lifecycle. (De)serialization statements are cheap, so the lock is
    not a contention point. On error the connection is closed and
    forgotten (it may be poisoned); the next call rebuilds lazily."""
    global _ast_con
    import duckdb

    with _ast_lock:
        if _ast_con is None:
            _ast_con = duckdb.connect()
        try:
            return _ast_con.execute(stmt, params).fetchone()[0]
        except Exception:
            con, _ast_con = _ast_con, None
            try:
                con.close()
            except Exception:
                pass
            raise


def connect() -> None:
    """Open the shared connection on the calling thread. The engine
    calls this from its constructor: opened first on a Flight/REST
    handler thread, DuckDB crashes the process after a few statements.
    Without DuckDB (a dev extra) or when the connect fails, nothing is
    raised: every parse is then None and statements run locally."""
    try:
        _ast_execute("SELECT 1", [])
    except Exception:
        pass


@functools.lru_cache(maxsize=64)
def _raw(sql: str) -> str | None:
    """Serialized AST text of ``sql``; None when DuckDB cannot parse it.
    Connection errors raise, so they are not memoized. Small: it only
    has to serve the rungs of the statements in flight, and one entry
    runs to 13 KB for TPC-H Q1 and 175 KB for the largest inventory
    statement."""
    raw = _ast_execute("SELECT json_serialize_sql(?::VARCHAR)", [sql])
    return None if json.loads(raw).get("error") else raw


def parse(sql: str) -> dict | None:
    """A fresh AST of ``sql`` (None if DuckDB can't parse it — that alone
    disqualifies pushdown, not execution)."""
    try:
        raw = _raw(sql)
    except Exception:
        return None
    return None if raw is None else json.loads(raw)


@functools.lru_cache(maxsize=1024)
def _refs(sql: str) -> tuple[tuple[str, str], ...] | None:
    raw = _raw(sql)
    if raw is None:
        return None
    return tuple(
        (".".join(filter(None, (n.get("catalog_name"), n.get("schema_name")))),
         n["table_name"])
        for n in base_tables(json.loads(raw))
    )


def table_refs(sql: str) -> tuple[tuple[str, str], ...] | None:
    """(qualifier, name) of every base table ``sql`` reads, CTE names
    excluded; None when DuckDB cannot parse it. Memoized apart from the
    parse and for longer: the engine asks on every statement, cache hits
    included, and these tuples are small where trees are not."""
    try:
        return _refs(sql)
    except Exception:
        return None


def unparse(tree: dict) -> str | None:
    """AST -> DuckDB SQL text; None when the tree does not deserialize."""
    try:
        return _ast_execute("SELECT json_deserialize_sql(?::JSON)", [json.dumps(tree)])
    except Exception:
        return None


def _split_literals(sql: str):
    """Split SQL text into alternating (segment, is_literal) pieces.
    Literals are single-quoted with '' escaping (the only literal form
    our unparser emits); they are yielded verbatim including quotes. An
    unterminated literal swallows the rest of the text as literal —
    conservative for a rewriter."""
    i, n, start = 0, len(sql), 0
    while i < n:
        if sql[i] != "'":
            i += 1
            continue
        if i > start:
            yield sql[start:i], False
        j = i + 1
        while j < n:
            if sql[j] == "'":
                if j + 1 < n and sql[j + 1] == "'":
                    j += 2  # escaped quote stays inside the literal
                    continue
                break
            j += 1
        end = min(j, n - 1)
        yield sql[i:end + 1], True
        i = start = end + 1
    if start < n:
        yield sql[start:], False


def _ident_to_backtick(m: re.Match) -> str:
    inner = m.group(1).replace('""', '"').replace("`", "``")
    return f"`{inner}`"


def fix_for_spark(sql: str) -> str:
    """DuckDB-isms in ``unparse`` output that Spark's parser rejects (the
    local-dialect mirror of plans/dialects.fix_text). Literal-aware for
    the same reason as fix_text: a user string containing ' ~~ ' or
    'count_star()' must survive verbatim.

    Also converts double-quoted identifiers to backticks: the
    deserializer quotes any identifier that is a DuckDB reserved word
    (e.g. ``d."label"``), which Spark's parser rejects outside ANSI
    double-quoted-identifier mode. Only non-literal segments are
    touched, so double quotes inside string literals survive; an
    escaped ``\"\"`` inside a quoted identifier unescapes to one ``"``
    (backtick identifiers escape a literal backtick by doubling)."""
    out = []
    for seg, is_literal in _split_literals(sql):
        if not is_literal:
            seg = (
                seg.replace("count_star()", "count(*)")
                .replace(" !~~ ", " NOT LIKE ")
                .replace(" ~~ ", " LIKE ")
            )
            seg = re.sub(r'"((?:[^"]|"")*)"', _ident_to_backtick, seg)
        out.append(seg)
    return "".join(out)


# ------------------------------------------------------------- walking


def nodes(tree, skip=frozenset()):
    """Every dict node under ``tree`` (itself included), depth-first in
    document order; values under keys in ``skip`` are not descended.
    A node's children are read after it is yielded, so a caller may
    rewrite a node in place before the walk continues into it."""
    stack = [tree]
    while stack:
        n = stack.pop()
        if isinstance(n, dict):
            yield n
            n = [v for k, v in n.items() if k not in skip] if skip else n.values()
        stack.extend([v for v in reversed(n) if isinstance(v, (dict, list))])


def _ctes_of(node: dict) -> list[str]:
    cte = node.get("cte_map")
    if not isinstance(cte, dict):
        return []
    return [e["key"].lower() for e in cte.get("map", []) if e.get("key")]


def cte_names(tree) -> set[str]:
    """Lower-cased names of every CTE defined anywhere under ``tree``."""
    return {name for n in nodes(tree) for name in _ctes_of(n)}


def base_tables(tree) -> list[dict]:
    """Every BASE_TABLE node under ``tree`` (mutable references into the
    AST), minus references to CTEs the tree itself defines."""
    ctes: set[str] = set()
    tables = []
    for n in nodes(tree):
        ctes.update(_ctes_of(n))
        if n.get("type") == "BASE_TABLE" and "table_name" in n:
            tables.append(n)
    return [n for n in tables if n["table_name"].lower() not in ctes]


def column_refs(tree, skip=frozenset()) -> list[list[str]]:
    """The name parts of every column reference under ``tree``."""
    return [
        list(n["column_names"]) for n in nodes(tree, skip)
        if n.get("type") == "COLUMN_REF" and n.get("column_names")
    ]


def top_select(tree: dict) -> dict | None:
    """The SELECT_NODE of a single-statement tree, else None."""
    stmts = tree.get("statements") or []
    if len(stmts) != 1:
        return None
    node = stmts[0].get("node") or {}
    return node if node.get("type") == "SELECT_NODE" else None


def from_tables(select: dict) -> list[dict]:
    """BASE_TABLE nodes that are DIRECT members of a SELECT's join tree
    (never descends into subqueries — their scopes are separate)."""
    out: list[dict] = []

    def walk(n):
        if not isinstance(n, dict):
            return
        t = n.get("type")
        if t == "BASE_TABLE":
            out.append(n)
        elif t in ("JOIN", "CROSS_PRODUCT"):
            walk(n.get("left"))
            walk(n.get("right"))

    walk(select.get("from_table"))
    return out


def conjuncts(where) -> list[dict]:
    """Top-level AND conjuncts of a WHERE expression."""
    if not isinstance(where, dict):
        return []
    if where.get("class") == "CONJUNCTION" and where.get("type") == "CONJUNCTION_AND":
        return [c for child in where.get("children", []) for c in conjuncts(child)]
    return [where]


COMPARE_OPS = {
    "COMPARE_EQUAL": "=",
    "COMPARE_NOTEQUAL": "<>",
    "COMPARE_LESSTHAN": "<",
    "COMPARE_GREATERTHAN": ">",
    "COMPARE_LESSTHANOREQUALTO": "<=",
    "COMPARE_GREATERTHANOREQUALTO": ">=",
}

_NUMERIC_IDS = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "FLOAT", "DOUBLE",
}


def constant(node: dict) -> tuple[object, str]:
    """CONSTANT node -> (Python value, DuckDB type id). The value is None
    for NULL (type id "NULL"), a bool, a scaled ``Decimal``, the raw
    number, or a str. Raises ValueError for any other type."""
    v = node.get("value") or {}
    typ = v.get("type") or {}
    tid = (typ.get("id") or "").upper()
    if v.get("is_null"):
        return None, "NULL"
    raw = v.get("value")
    if tid == "BOOLEAN":
        return bool(raw), tid
    if tid == "DECIMAL":
        scale = int((typ.get("type_info") or {}).get("scale", 0))
        return decimal.Decimal(raw).scaleb(-scale), tid
    if tid in _NUMERIC_IDS:
        return raw, tid
    if tid == "VARCHAR":
        return str(raw), tid
    raise ValueError(f"constant type {tid}")


def owned_column(names: list[str], columns, alias: str,
                 others: set[str] = frozenset()) -> str | None:
    """The canonical name of the column a reference denotes in one table,
    or None when that table does not own it. Spark resolves columns
    case-insensitively, so names match case-insensitively, and a name
    matching two of ``columns`` under case-folding is not owned. A
    qualified reference must use ``alias``; a bare one must not name a
    column in ``others`` (lower-cased columns of the statement's other
    tables)."""
    if not names:
        return None
    col = names[-1].lower()
    if len(names) == 1:
        if col in others:
            return None
    elif names[-2].lower() != alias.lower():
        return None
    hits = [c for c in columns if c.lower() == col]
    return hits[0] if len(hits) == 1 else None


def retarget(node: dict, table: str, alias: str) -> None:
    """Point a FROM member at ``table`` (a temp view) in place. The
    member keeps its own alias, or takes ``alias``, so the statement's
    column references keep resolving; a derived table becomes a
    BASE_TABLE."""
    alias = node.get("alias") or alias
    if node.get("type") != "BASE_TABLE":
        colalias = node.get("column_name_alias") or []
        node.clear()
        node.update(type="BASE_TABLE", sample=None, query_location=0,
                    column_name_alias=colalias, catalog_name="")
    node.update(table_name=table, alias=alias, schema_name="")


def select_star(table: str) -> dict:
    """The SELECT_NODE of ``SELECT * FROM table``."""
    star = {"class": "STAR", "type": "STAR", "alias": "", "relation_name": "",
            "exclude_list": [], "replace_list": [], "columns": False, "expr": None}
    node = {"type": "SELECT_NODE", "modifiers": [], "cte_map": {"map": []},
            "select_list": [star], "from_table": {}, "where_clause": None,
            "group_expressions": [], "group_sets": [],
            "aggregate_handling": "STANDARD_HANDLING", "having": None,
            "sample": None, "qualify": None}
    retarget(node["from_table"], table, "")
    return node


AGG_FUNCS = frozenset({
    "count", "count_star", "sum", "avg", "min", "max", "string_agg",
    "array_agg", "list", "first", "last", "median", "mode", "stddev",
    "stddev_pop", "stddev_samp", "var_pop", "var_samp", "variance",
    "bit_and", "bit_or", "bit_xor", "bool_and", "bool_or", "product",
    "approx_count_distinct", "arg_min", "arg_max", "group_concat",
})


def reduces(tree) -> bool:
    """True when some query under ``tree`` groups, aggregates, or has a
    DISTINCT or LIMIT modifier."""
    return any(
        n.get("group_expressions") or n.get("group_sets")
        or any(m.get("type") in ("DISTINCT_MODIFIER", "LIMIT_MODIFIER")
               for m in n.get("modifiers", []) or [])
        or (n.get("type") == "FUNCTION"
            and n.get("function_name", "").lower() in AGG_FUNCS)
        for n in nodes(tree)
    )


def bounded(sql: str) -> bool:
    """The defensive limit's skip list (LIMIT, aggregate, DISTINCT,
    window) read from a statement as written; False when it does not
    parse."""
    tree = parse(sql)
    return tree is not None and (
        reduces(tree) or any(n.get("class") == "WINDOW" for n in nodes(tree))
    )
