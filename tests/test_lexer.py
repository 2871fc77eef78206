"""The SQL lexer under sqlgen/: quoting, comments and paren depth are
found in one place, and no other sqlgen module counts parens itself."""

import ast
import pathlib
import re

import pytest

from databend_spark.sqlgen import lexer
from databend_spark.sqlgen.fallbacks import execute

SQLGEN = pathlib.Path(lexer.__file__).resolve().parent


def _kinds(sql):
    return [(t.kind, t.text) for t in lexer.tokens(sql) if t.kind != "op"]


def test_doubled_and_backslash_escaped_quotes_stay_inside_the_string():
    assert _kinds("'it''s' x") == [("str", "'it''s'"), ("word", "x")]
    assert _kinds(r"'it\'s (x' y") == [("str", r"'it\'s (x'"), ("word", "y")]
    assert _kinds(r"'a\\' b") == [("str", r"'a\\'"), ("word", "b")]


def test_dollar_quoted_string_is_one_token():
    assert _kinds("$$it's (a)$$ z") == [("str", "$$it's (a)$$"), ("word", "z")]


def test_quoted_identifiers_are_one_token():
    assert _kinds('"a (b" `c, d` e') == [
        ("ident", '"a (b"'), ("ident", "`c, d`"), ("word", "e"),
    ]


def test_line_comment_marker_inside_a_string_is_text():
    assert _kinds("'a--b' c -- d (\ne") == [
        ("str", "'a--b'"), ("word", "c"), ("comment", "-- d ("), ("word", "e"),
    ]


def test_block_comment_hides_its_parens():
    sql = "SELECT a FROM t /* ( */ WHERE a = 1"
    assert lexer.find_top(sql, "WHERE") == sql.index("WHERE")
    assert [t.depth for t in lexer.tokens(sql)] == [0] * 9


def test_numbers():
    assert _kinds("1 2.5 .5 1e-3 x1") == [
        ("num", "1"), ("num", "2.5"), ("num", ".5"), ("num", "1e-3"),
        ("word", "x1"),
    ]


def test_nested_parens():
    sql = "f(a, g(b, (c)), 'x)') + h(d)"
    assert lexer.close_bracket(sql, 1) == sql.index("+") - 2
    assert lexer.open_bracket(sql, sql.index("+") - 2) == 1
    assert lexer.split_top(sql[2 : lexer.close_bracket(sql, 1)]) == [
        "a", " g(b, (c))", " 'x)'",
    ]
    assert lexer.enclosing_open(sql, sql.index("c")) == sql.index("(c")
    assert [t.depth for t in lexer.tokens("(a(b))")] == [0, 1, 1, 2, 1, 0]


def test_unterminated_string_runs_to_the_end_and_passes_through():
    sql = "SELECT 'abc, (d FROM t"
    assert _kinds(sql) == [("word", "SELECT"), ("str", "'abc, (d FROM t")]
    assert lexer.find_top(sql, "FROM") == -1
    masked, lits = lexer.mask(sql)
    assert lexer.unmask(masked, lits) == sql


def test_mask_round_trip_leaves_identifiers_and_comments():
    sql = "SELECT 'a''b', \"it's\" -- don't\n, 'c\\'d'"
    masked, lits = lexer.mask(sql)
    assert lits == ["'a''b'", "'c\\'d'"]
    assert masked == "SELECT \x000\x00, \"it's\" -- don't\n, \x001\x00"
    assert lexer.unmask(masked, lits) == sql


def test_clause_end_and_keyword_split():
    sql = "ON a = (b AND c) AND d, e"
    assert lexer.clause_end(sql, 2, chars=",") == sql.index(",")
    assert [p.strip() for p in lexer.split_top(sql[2:-3], "AND")] == [
        "a = (b AND c)", "d",
    ]


@pytest.mark.parametrize(
    "sql, want",
    [
        ("FROM t p ANY", ("t", "p")),
        ("FROM t AS p ANY", ("t", "p")),
        ("FROM (SELECT 1) p ANY", ("(SELECT 1)", "p")),
        ("FROM db.t ANY", ("db.t", None)),
    ],
)
def test_table_reference_before_a_join(sql, want):
    rel, alias, start = lexer.relation_before(sql, sql.index(" ANY"))
    assert (rel, alias) == want and start == 5


@pytest.fixture(scope="module")
def having_view(spark):
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW lx_t AS SELECT * FROM VALUES (11), (13) AS t(a)"
    )


@pytest.mark.parametrize(
    "sql",
    [
        r"SELECT 'it\'s (x' AS c, a FROM lx_t WHERE a = 13 HAVING a > 11",
        "SELECT a FROM lx_t /* ( */ WHERE a = 13 HAVING a > 11",
    ],
)
def test_having_behind_a_paren_in_a_string_or_comment(spark, having_view, sql):
    """HAVING without GROUP BY merges into WHERE even when a string or a
    comment before it holds an unbalanced paren."""
    df, _ = execute(spark, sql)
    assert [r.a for r in df.collect()] == [13]


_DEPTH_NAME = re.compile(r"depth|nest|level|paren|^d\d*$|^lvl$|^bal", re.I)


def _counts_parens(node):
    return any(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "count"
        and any(isinstance(a, ast.Constant) and a.value in ("(", ")") for a in n.args)
        for n in ast.walk(node)
    )


def _depth_counters(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.AugAssign):
            targets = [node.target]
        elif isinstance(node, ast.Assign) and _counts_parens(node.value):
            targets = node.targets
        else:
            continue
        for t in targets:
            for n in ast.walk(t):
                if isinstance(n, ast.Name) and _DEPTH_NAME.search(n.id):
                    yield node.lineno, n.id


def test_lexer_is_the_only_paren_depth_scanner_under_sqlgen():
    found = [
        f"{path.name}:{line} {name}"
        for path in sorted(SQLGEN.rglob("*.py"))
        if path.name != "lexer.py"
        for line, name in _depth_counters(ast.parse(path.read_text()))
    ]
    assert found == []
