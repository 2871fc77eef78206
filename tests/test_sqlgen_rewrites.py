"""Assertions for the dialect rewrites added for the
reference SLT sweep (QUALIFY, scalar HAVING, multi-arg GROUPING, ASOF
JOIN, comment/Nullable/quoted-alias cleanup)."""

import pytest

from databend_spark.sqlgen import (
    auto_alias_view_body,
    inline_select_aliases,
    rewrite_databend_sql as R,
)


def test_scalar_having_aggregate_gets_global_group():
    out = R("SELECT SUM(a) FROM t HAVING SUM(a) > 10")
    assert "GROUP BY GROUPING SETS (())" in out


def test_scalar_having_row_filter_merges_into_where():
    out = R("SELECT a FROM t WHERE a=13 HAVING a > 11")
    assert "HAVING" not in out.upper()
    assert "(a=13) AND (a > 11)" in out


def test_having_with_group_by_untouched():
    out = R("SELECT a, SUM(b) FROM t GROUP BY a HAVING SUM(b) > 1")
    assert "GROUPING SETS" not in out


def test_qualify_projects_hidden_column():
    out = R("SELECT a, rank() OVER (ORDER BY a) r FROM t QUALIFY r = 1")
    assert "__qualify" in out
    assert "QUALIFY" not in out.upper().replace("__QUALIFY", "")


def test_grouping_multi_arg_expands_to_arithmetic():
    out = R("SELECT grouping(a, b) FROM t GROUP BY CUBE(a, b)")
    assert "grouping(a) * 2 + grouping(b)" in out


def test_grouping_single_arg_untouched():
    out = R("SELECT grouping(a) FROM t GROUP BY CUBE(a)")
    assert "grouping(a)" in out and "grouping_id" not in out


def test_asof_join_desugars_to_aggregate_lateral():
    out = R(
        "SELECT t.*, p.price FROM trades t ASOF JOIN prices p "
        "ON t.sym = p.sym AND t.wh >= p.wh"
    )
    assert "LATERAL" in out and "max_by(struct(p.*), p.wh)" in out
    assert "ASOF" not in out.upper()


def test_asof_left_join_keeps_probe_rows():
    out = R(
        "SELECT * FROM a ASOF LEFT JOIN b ON a.k = b.k AND a.t >= b.t"
    )
    assert "LEFT JOIN LATERAL" in out and "ON true" in out


def test_asof_reversed_inequality_uses_min_by():
    out = R("SELECT * FROM a ASOF JOIN b ON a.k = b.k AND b.t >= a.t")
    assert "min_by" in out


def test_asof_missing_inequality_raises():
    import pytest

    from databend_spark.sqlgen import UnsupportedSQL

    with pytest.raises(UnsupportedSQL, match="inequality"):
        R("SELECT * FROM a ASOF JOIN b ON a.k <> b.k")


def test_line_comments_stripped():
    out = R("INSERT INTO t (id) VALUES-- note\n(1)")
    assert "note" not in out


def test_comment_not_stripped_inside_string():
    out = R("SELECT 'a--b' AS s")
    assert "'a--b'" in out


def test_nullable_wrapper_removed():
    out = R("SELECT cast(NULL as Nullable(Int32)) AS n")
    assert "Nullable" not in out


def test_equals_not_boolean_parenthesized():
    out = R("SELECT * FROM t WHERE f = NOT FALSE")
    assert "= (NOT FALSE)" in out


def test_quoted_alias_to_backticks():
    out = R('SELECT a IS DISTINCT FROM 1 AS "Is Distinct" FROM t')
    assert "AS `Is Distinct`" in out


def test_eq_all_desugar():
    # NULL-correct desugar: FALSE if any non-null row differs, NULL if
    # any row (or the probe) is NULL, else TRUE
    out = R("select 1 = all(select 1)")
    assert "CASE WHEN EXISTS" in out
    assert "<>" in out
    assert "CAST(NULL AS BOOLEAN)" in out


def test_inline_select_aliases_substitutes_in_aggs():
    out = inline_select_aliases(
        "SELECT i % 2 AS k, SUM(k) FROM t GROUP BY k ORDER BY k"
    )
    assert "SUM((i % 2))" in out


def test_auto_alias_view_body():
    out = auto_alias_view_body(
        "CREATE VIEW v AS SELECT a, avg(n) FROM t GROUP BY a"
    )
    assert "avg(n) AS `avg(n)`" in out


def test_date_add_unit_form():
    out = R("SELECT date_add(HOUR, 12, ts) FROM t")
    assert "timestampadd(HOUR" in out


def test_any_join_left_dedups_build_side():
    out = R("SELECT t1.id, t2.v FROM t1 LEFT ANY JOIN t2 ON t1.id = t2.id")
    assert "ANY" not in out.upper()
    assert "LEFT JOIN" in out.upper()
    assert "min(struct(t2.*))" in out
    assert "min(struct(t1.*))" not in out


def test_any_join_inner_dedups_both_sides():
    out = R("SELECT * FROM t1 INNER ANY JOIN t2 USING(id)")
    assert "min(struct(t1.*))" in out
    assert "min(struct(t2.*))" in out
    assert "USING (id)" in out


def test_any_join_right_dedups_probe_side():
    out = R("SELECT * FROM t1 RIGHT ANY JOIN t2 ON t1.id = t2.id")
    assert "min(struct(t1.*))" in out
    assert "min(struct(t2.*))" not in out
    assert "RIGHT JOIN" in out.upper()


def test_any_join_build_residual_filters_before_pick():
    out = R(
        "SELECT * FROM t1 INNER ANY JOIN t2 "
        "ON t1.id = t2.id AND t2.v = 'x2'"
    )
    # the one-sided predicate lands inside the dedup subquery (pick
    # among filtered rows), not in the outer ON
    assert "WHERE t2.v =" in out


def test_any_join_without_condition_is_binder_error():
    import pytest

    with pytest.raises(Exception, match=r"\[1065\]"):
        R("SELECT * FROM t1 INNER ANY JOIN t2")


def test_any_join_derived_table_probe():
    """r8 ADVICE: a parenthesized derived-table probe must be captured
    whole — the dedup subquery must not reference only the alias."""
    from databend_spark.sqlgen import _rewrite_any_join

    out = _rewrite_any_join(
        "SELECT * FROM (SELECT * FROM t0 WHERE x > 1) p "
        "INNER ANY JOIN t2 ON p.id = t2.id"
    )
    assert "FROM (SELECT * FROM t0 WHERE x > 1) p GROUP BY" in out
    # the alias-only unresolvable form must be gone
    assert "AS __s FROM p GROUP BY" not in out
    out2 = _rewrite_any_join(
        "SELECT * FROM (SELECT * FROM t0) AS p RIGHT ANY JOIN t2 "
        "ON p.id = t2.id"
    )
    assert "FROM (SELECT * FROM t0) p GROUP BY" in out2


_ASOF_ON = "ON p.pk = b.bk AND p.pt >= b.bt"
# p and b with their join keys also under the shared names USING needs
_USING_P = "(SELECT *, pk AS k, pt AS t FROM p) p"
_USING_B = "(SELECT *, bk AS k, bt AS t FROM b) b"
_JOINS = {
    "asof": f"SELECT * FROM p ASOF JOIN b {_ASOF_ON}",
    "asof_left": f"SELECT * FROM p ASOF LEFT JOIN b {_ASOF_ON}",
    "asof_right": f"SELECT * FROM p ASOF RIGHT JOIN b {_ASOF_ON}",
    "asof_right_using": f"SELECT * FROM {_USING_P} ASOF RIGHT JOIN {_USING_B} USING (k, t)",
    "asof_full_using": f"SELECT * FROM {_USING_P} ASOF FULL JOIN {_USING_B} USING (k, t)",
    "any": "SELECT * FROM p ANY JOIN b ON p.pk = b.bk",
    "any_alias": "SELECT * FROM p p ANY JOIN b b ON p.pk = b.bk",
    "any_as": "SELECT * FROM p AS p ANY JOIN b AS b ON p.pk = b.bk",
}
# clause after the join → the same clause over the bare join's result
_TAILS = {
    "where": ("WHERE p.x > 1", "SELECT * FROM ({}) s WHERE x > 1"),
    "join": (
        "JOIN c ON c.ck = p.pk",
        "SELECT * FROM ({}) s JOIN c ON c.ck = s.pk",
    ),
    "order_by": (
        "ORDER BY p.pk, p.pt, b.bk, b.bt",
        "SELECT * FROM ({}) s ORDER BY pk NULLS LAST, pt NULLS LAST,"
        " bk NULLS LAST, bt NULLS LAST",
    ),
}


@pytest.fixture(scope="module")
def join_views(spark):
    for name, rows in {
        "p": "(1, 10, 0), (1, 20, 2), (2, 15, 3), (3, 5, 1) AS t(pk, pt, x)",
        "b": "(1, 5, 'a'), (1, 15, 'b'), (2, 20, 'c'), (2, 10, 'd'),"
        " (4, 1, 'e') AS t(bk, bt, v)",
        "c": "(1, 'c1'), (2, 'c2'), (3, 'c3') AS t(ck, w)",
    }.items():
        spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS SELECT * FROM VALUES {rows}")


@pytest.mark.parametrize("tail", list(_TAILS))
@pytest.mark.parametrize("join", list(_JOINS))
def test_join_rewrite_stops_at_the_next_clause(spark, join_views, join, tail):
    """An ASOF or ANY JOIN's ON condition ends where WHERE, a second
    JOIN or ORDER BY starts: the clause stays outside the rewritten
    join and applies to its result, which carries no helper column."""
    clause, over_bare = _TAILS[tail]
    out = R(f"{_JOINS[join]} {clause}")
    bare = R(_JOINS[join])
    assert out.startswith(bare.rstrip())
    df = spark.sql(out)
    assert "__pick" not in df.columns
    got = df.collect()
    want = spark.sql(over_bare.format(bare)).collect()
    if tail == "order_by":
        assert got == want
    else:
        assert sorted(got, key=repr) == sorted(want, key=repr)
    assert got


def test_asof_join_using_drops_the_build_keys(spark):
    """``ASOF JOIN b USING (k, t)``: ``b`` is the build relation, not
    ``b`` aliased ``USING``. The result is the ON form's with the build
    side's copies of the USING columns dropped."""
    for name, rows in {
        "pu": "(1, 10, 'a'), (1, 20, 'b'), (2, 5, 'c') AS t(k, t, x)",
        "bu": "(1, 9, 100), (1, 15, 200), (2, 6, 300) AS t(k, t, v)",
    }.items():
        spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS SELECT * FROM VALUES {rows}")
    got = spark.sql(R("SELECT * FROM pu ASOF JOIN bu USING (k, t)"))
    want = spark.sql(
        R("SELECT pu.*, bu.v FROM pu ASOF JOIN bu ON pu.k = bu.k AND pu.t >= bu.t")
    )
    assert got.columns == ["k", "t", "x", "v"]
    assert sorted(got.collect()) == sorted(want.collect()) == [
        (1, 10, "a", 100), (1, 20, "b", 200),
    ]


@pytest.mark.parametrize("kind", ["RIGHT", "FULL"])
def test_asof_outer_join_using_matches_duckdb(spark, kind):
    """``ASOF RIGHT/FULL JOIN … USING (k, t)`` returns each USING column
    once, first, with the build row's value where there is one, like
    DuckDB's native join on the same rows."""
    import duckdb

    views = {
        "pu": ("(1, 10, 'p1'), (1, 20, 'p2'), (2, 5, 'p3'), (3, 1, 'p4')", "k, t, x"),
        "bu": ("(1, 9, 100), (1, 15, 200), (2, 7, 300), (4, 1, 400)", "k, t, v"),
    }
    con = duckdb.connect()
    for name, (rows, cols) in views.items():
        body = f"SELECT * FROM (VALUES {rows}) AS t({cols})"
        spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS {body}")
        con.execute(f"CREATE TABLE {name} AS {body}")
    sql = f"SELECT * FROM pu ASOF {kind} JOIN bu USING (k, t)"
    got = spark.sql(R(sql))
    want = con.execute(sql)
    assert got.columns == [d[0] for d in want.description] == ["k", "t", "x", "v"]
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        want.fetchall(), key=repr
    )
