"""``gate.lex`` cuts SQL where Spark's own lexer (SqlBaseLexer) cuts it:
the read-only gate, the RLS rename and the secured-view refusal judge
text outside string literals, so a literal or comment boundary that
Spark draws elsewhere lets a statement say one thing to them and
another to Spark."""

from __future__ import annotations

import random

import pytest

import strake_spark as ss
from strake_spark.errors import QueryRejected
from strake_spark.governance.gate import classify_statement, lex
from tests.conftest import SF_DIR

_CORPUS = [
    "SELECT 'a''b', 'c\\'d', \"e\\\"f\", \"g\"\"h\", `i``j`, 'k' -- l",
    "SELECT r'\\' 1e-3r'a' x1.5r'b' 1.5r'c' 1e3r'd' 1e-3Dr'e' 1e-3BDr'f' .5r'g' R\"\\\"",
    "SELECT /* a /* b */ c */ d /**/ e /*/ f */ g /* a /*+ b */ c",
    "SELECT /*+ x(' */ ') */ a*/* b */ c /*+*/*' */ '",
    "SELECT 'x' --\\\n y --\\\r\n z -- w\n v",
    "SELECT ér'\\' aʼr'x' a中r'y' a_r'z' \"'\" x FROM t /*'*/ JOIN u /*'*/",
    "SELECT 1 /* unclosed ' comment",
]
_ALPHABET = ["'", '"', "`", "\\", "-", "/", "*", "+", "r", "R", "e", "1", ".", "x", " ", "\n", "é"]


def _spark_lexer(spark):
    """``sql -> (string literal spans, comment spans)`` by Spark's lexer,
    or None when it meets a character it rejects (the statement cannot
    parse)."""
    jvm = spark._jvm
    parser = jvm.org.apache.spark.sql.catalyst.parser
    lexer_class = parser.SqlBaseLexer
    simple = lexer_class.SIMPLE_COMMENT
    kinds = {lexer_class.STRING_LITERAL: "string", simple: "comment",
             lexer_class.BRACKETED_COMMENT: "comment", lexer_class.UNRECOGNIZED: None}

    def spans_of(sql: str) -> tuple[list, list] | None:
        lexer = lexer_class(
            parser.UpperCaseCharStream(jvm.org.antlr.v4.runtime.CharStreams.fromString(sql))
        )
        spans: dict[str, list] = {"string": [], "comment": []}
        for token in lexer.getAllTokens():
            t = token.getType()
            if t not in kinds:
                continue
            if kinds[t] is None:
                return None
            start, stop = token.getStartIndex(), token.getStopIndex() + 1
            if t == simple:  # Spark's -- comment takes its newline along
                stop = start + len(sql[start:stop].rstrip("\r\n"))
            spans[kinds[t]].append((start, stop))
        return spans["string"], spans["comment"]

    return spans_of


def _spans(sql: str) -> tuple[list, list]:
    spans: dict[str, list] = {"string": [], "comment": []}
    pos = 0
    for kind, text in lex(sql):
        if kind in spans:
            spans[kind].append((pos, pos + len(text)))
        pos += len(text)
    return spans["string"], spans["comment"]


def test_lex_cuts_where_spark_does(spark):
    rng = random.Random(0)
    fuzz = ["".join(rng.choice(_ALPHABET) for _ in range(rng.randint(1, 14))) for _ in range(600)]
    spark_spans = _spark_lexer(spark)
    compared = 0
    for sql in _CORPUS + fuzz:
        assert "".join(text for _, text in lex(sql)) == sql
        expected = spark_spans(sql)
        if expected is not None:
            assert _spans(sql) == expected, sql
            compared += 1
    assert compared > 150


def test_gate_reads_nested_comments_as_spark_does(spark):
    """Spark nests block comments: the keyword after ``/* /* */ SELECT
    */`` is DROP, and the gate must see it."""
    stmt = "/* /* */ SELECT */ DROP VIEW nc_region"
    assert classify_statement(stmt) == "write"
    eng = ss.connect({"sources": [{"name": "nc", "type": "parquet", "url": SF_DIR,
                                   "tables": [{"name": "region"}]}]}, spark=spark)
    with pytest.raises(QueryRejected):
        eng.execute(stmt)
    assert spark.catalog.tableExists("nc_region")
    spark.catalog.dropTempView("nc_region")
