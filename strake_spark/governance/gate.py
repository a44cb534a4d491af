"""Read-only query gate + identifier hygiene.

The reference is read-only by default (README.md:29): its defensive rule
bails on Dml/Ddl/Copy plan nodes (crates/sql/src/optimizer/
defensive_trace.rs:31-42) and its Flight update path is a stub
(crates/server/src/flight_sql.rs:576). We enforce the same contract at
the SQL-text gate, before Spark ever parses the statement.

Identifier rules follow crates/sql/src/sql_generator/sanitize.rs:4-36:
reject empty, >128 chars, and any of " \\0 ; ` \\ in identifiers.
"""

from __future__ import annotations

import re

from strake_spark.errors import QueryRejected

# First significant keyword after stripping comments/parens decides.
_READ_KEYWORDS = {"select", "with", "values", "table", "explain", "describe", "show"}
_WRITE_KEYWORDS = {
    "insert", "update", "delete", "merge", "create", "drop", "alter",
    "truncate", "copy", "grant", "revoke", "set", "refresh", "cache",
    "uncache", "load", "analyze", "msck", "use",
}

# One token of Spark's SQL lexer (SqlBaseLexer; a tier-1 test compares
# the two). A single-quoted string literal takes \ escapes and '', a
# raw R'..' or R".." none. A double-quoted string and a backticked name
# are code that may hold a quote. A -- comment runs on over a \ before
# its newline; /* */ comments nest, but /*+ opens a hint, which is code,
# and */ outside a comment is one token. Words (any non-ASCII non-space
# character counts as a letter: where Spark disagrees it rejects the
# character) and signed exponents are tokens, so R'..' is raw exactly
# where Spark's lexer reads it as raw.
_TOKEN = re.compile(
    r"""(?P<string>[rR]'[^']*'?|[rR]"[^"]*"?|'(?:[^'\\]|\\.|'')*'?)"""
    r"""|(?P<comment>--(?:\\\n|[^\r\n])*|/\*(?!\+))"""
    r"""|"(?:[^"\\]|\\.|"")*"?|`(?:[^`]|``)*`?|\*/"""
    r"""|\d+[eE][+-]\d+(?:[bB][dD]|[dDfF])?"""
    # a run of words and punctuation that starts none of the above
    r"""|(?:(?![rR]['"]|\d+[eE][+-]\d)(?:[A-Za-z0-9_]|[^\s\x00-\x7f])+"""
    r"""|[^'"`\-/*A-Za-z0-9_\x80-\U0010ffff]+|-(?!-)|/(?!\*)|\*(?!/))+|.""",
    re.S,
)
_NESTED_COMMENT = re.compile(r"/\*(?!\+)|\*/")


def lex(sql: str) -> list[tuple[str, str]]:
    """``sql`` cut into ``(kind, text)`` runs the way Spark's lexer cuts
    it: ``string`` is one single-quoted or raw string literal,
    ``comment`` one comment, ``code`` the text between (double-quoted
    strings and backticked names included). The texts join back into
    ``sql``."""
    runs: list[tuple[str, str]] = []
    pos = code = 0  # code: where the current code run starts
    while pos < len(sql):
        m = _TOKEN.match(sql, pos)
        kind, end = m.lastgroup, m.end()
        if kind == "comment" and m.group().startswith("/*"):
            depth = 1
            while depth:
                n = _NESTED_COMMENT.search(sql, end)
                if n is None:
                    end = len(sql)
                    break
                depth += 1 if n.group() == "/*" else -1
                end = n.end()
        if kind is not None:
            if code < pos:
                runs.append(("code", sql[code:pos]))
            runs.append((kind, sql[pos:end]))
            code = end
        pos = end
    if code < len(sql):
        runs.append(("code", sql[code:]))
    return runs


def _first_keyword(sql: str) -> str:
    stripped = "".join(
        " " if kind == "comment" else text for kind, text in lex(sql)
    ).lstrip(" \t\r\n(")
    m = re.match(r"[A-Za-z_]+", stripped)
    return m.group(0).lower() if m else ""


def classify_statement(sql: str) -> str:
    """Return 'read' | 'write' | 'unknown' for a SQL statement."""
    if ";" in sql.rstrip().rstrip(";"):
        return "write"  # multi-statement scripts are refused outright
    kw = _first_keyword(sql)
    if kw in _READ_KEYWORDS:
        return "read"
    if kw in _WRITE_KEYWORDS:
        return "write"
    return "unknown"


def ensure_select(sql: str) -> None:
    """Raise QueryRejected unless the statement is read-only."""
    if not sql or not sql.strip():
        raise QueryRejected("empty query")
    kind = classify_statement(sql)
    if kind != "read":
        raise QueryRejected(
            f"read-only engine: statement kind {_first_keyword(sql) or '?'!r} is not allowed"
        )


_BAD_IDENT_CHARS = set('"\x00;`\\')


def sanitize_identifier(ident: str) -> str:
    """Validate an identifier per sanitize.rs:4-36; returns it unchanged."""
    if not ident:
        raise QueryRejected("empty identifier")
    if len(ident) > 128:
        raise QueryRejected(f"identifier too long ({len(ident)} > 128)")
    bad = _BAD_IDENT_CHARS.intersection(ident)
    if bad:
        raise QueryRejected(f"identifier contains forbidden characters: {sorted(bad)!r}")
    return ident
