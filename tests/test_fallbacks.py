"""The shared fallback table (sqlgen/fallbacks.py) and per-call
RewriteOptions: SessionContext.sql and the SLT runner take one path."""

import sys
import threading

import pytest

import databend_spark.sqlgen.fallbacks as fallbacks
from databend_spark.sqlgen import RewriteOptions, rewrite_databend_sql


@pytest.fixture()
def inline(spark):
    from databend_spark.functions.variant_runtime import register_all_helpers

    register_all_helpers(spark)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW fb_json AS SELECT * FROM VALUES"
        " ('{\"a\":1}', '[1,1,2]'), ('{\"a\":2}', '[3]') AS t(j, ja)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW fb_arr AS SELECT * FROM VALUES"
        " (array(10, 20), named_struct('a', 5), 'x,y'),"
        " (array(30), named_struct('a', 6), 'z') AS t(arr, st, s)"
    )


@pytest.fixture()
def spy(monkeypatch):
    """Records (entry name, outcome) for every entry whose predicate
    held."""
    seen = []
    attempt = fallbacks._attempt

    def recording(fb, f, hit):
        try:
            out = attempt(fb, f, hit)
        except Exception as e:
            seen.append((fb.name, "raised", str(e)))
            raise
        seen.append((fb.name, "ok" if out is not None else "declined", ""))
        return out

    monkeypatch.setattr(fallbacks, "_attempt", recording)
    return seen


def _log_fallback(ctx):
    return ctx.system("query_log").orderBy("query_id").collect()[-1].fallback


def _in_threads(*jobs):
    """Run each job in its own thread, started together, with a short
    switch interval so the threads interleave inside rewrites; return
    what the jobs raised."""
    start = threading.Barrier(len(jobs), timeout=60)
    raised: list[BaseException] = []

    def run(job):
        start.wait()
        try:
            job()
        except Exception as e:  # noqa: BLE001 — reported by the caller
            raised.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run, args=(j,)) for j in jobs]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    return raised


def test_threads_rewrite_with_their_own_options(ctx, inline):
    """One thread needs the variant_get fallback on every call, the
    other must keep the plain element_at reading of get(). With
    process-global flags the second thread could rewrite under the
    first one's variant mode."""
    errors: list[str] = []

    def run(sql, expected):
        for _ in range(50):
            got = sorted(r[0] for r in ctx.sql(sql).collect())
            if got != expected:
                errors.append(f"{sql}: {got}")

    assert _in_threads(
        lambda: run("SELECT get(j, 'a') FROM fb_json", ["1", "2"]),
        lambda: run("SELECT get(arr, 1) FROM fb_arr", [10, 30]),
    ) == []
    assert errors == []


def test_threads_rewrite_alone_with_their_own_options():
    """The same race without Spark in between: every rewrite must see
    only its own call's options."""
    q = "SELECT get(a, 1), split(s, ',') FROM t"
    variant, lambda_safe = RewriteOptions(variant_get=True), RewriteOptions(
        lambda_safe=True
    )
    want = {o: rewrite_databend_sql(q, o) for o in (variant, lambda_safe)}
    assert len(set(want.values())) == 2
    errors: list[str] = []

    def run(opts):
        for _ in range(2000):
            if rewrite_databend_sql(q, opts) != want[opts]:
                errors.append(str(opts))

    assert _in_threads(lambda: run(variant), lambda: run(lambda_safe)) == []
    assert errors == []


@pytest.mark.parametrize(
    "sql, expected, entry",
    [
        ("SELECT get(j, 'a') FROM fb_json", ["1", "2"], "variant_get"),
        ("SELECT array_distinct(ja) FROM fb_json", ["[1,2]", "[3]"],
         "variant_array"),
        ("SELECT transform(arr, x -> split(s, ',')) FROM fb_arr",
         [[["x", "y"], ["x", "y"]], [["z"]]], "lambda_safe"),
        ("SELECT st:a FROM fb_arr", [5, 6], "column_not_variant"),
    ],
)
def test_option_entries_through_ctx_sql(ctx, inline, spy, sql, expected, entry):
    got = sorted(r[0] for r in ctx.sql(sql).collect())
    assert got == expected
    assert (entry, "ok", "") in spy
    assert _log_fallback(ctx) == entry


def test_options_do_not_leak_into_the_next_rewrite():
    q = "SELECT get(a, 1), to_date(s), cosine_distance(v, w) FROM t"
    before = rewrite_databend_sql(q)
    forced = rewrite_databend_sql(
        q, RewriteOptions(variant_get=True, dt_auto=True, vector_f32=True)
    )
    assert forced != before
    assert rewrite_databend_sql(q) == before


_SLT = """statement ok
CREATE OR REPLACE TABLE fb_t(n INT, m INT, s VARCHAR, j VARCHAR, ja VARCHAR, arr ARRAY(INT))

statement ok
INSERT INTO fb_t VALUES (1, 0, 'x,y', '{"a":1}', '[1,1,2]', [1,2]), (2, 3, 'z', '{"a":2}', '[3]', [3])

query I
SELECT s FROM fb_t WHERE n ORDER BY s
----
x,y
z

query B
SELECT NOT(m) FROM fb_t ORDER BY n
----
1
0

query B
SELECT n AND m FROM fb_t ORDER BY n
----
0
1

query I
SELECT length(arr) FROM fb_t ORDER BY n
----
2
1

query T
SELECT get(j, 'a') FROM fb_t ORDER BY n
----
1
2

query T
SELECT array_distinct(ja) FROM fb_t ORDER BY n
----
[1,2]
[3]

query T
SELECT transform(arr, x -> split(s, ',')) FROM fb_t ORDER BY n
----
[["x","y"],["x","y"]]
[["z"]]

query I
SELECT col0 FROM (VALUES (7, 8)) v
----
7

query I
SELECT x:a FROM (SELECT named_struct('a', 5) AS x) q
----
5

query T
SELECT _origin_version FROM fb_t ORDER BY n
----
NULL
NULL

statement ok
CREATE VIEW fb_v AS SELECT n + 1 FROM fb_t

query I
SELECT count(*) FROM fb_v
----
2

statement error 1065
SELECT n + 1 AS a, a + nosuch FROM fb_t
"""


def test_runner_walks_the_moved_entries(spark, sf_dir, tmp_path, spy):
    from databend_spark.session import register_tables
    from databend_spark.testkit import run_slt_file

    slt = tmp_path / "fallbacks.test"
    slt.write_text(_SLT)
    try:
        rep = run_slt_file(spark, str(slt))
    finally:  # the runner's isolation drops the session's temp views
        register_tables(spark, sf_dir)
    assert rep.failed == 0, rep.failures
    ok = {name for name, outcome, _ in spy if outcome == "ok"}
    assert ok >= {
        "filter_not_boolean_expr", "not_over_int", "and_or_int_columns",
        "length_of_array", "variant_get", "variant_array", "lambda_safe",
        "values_column_numbering", "column_not_variant",
        "origin_columns_null", "view_auto_alias",
    }
    # a propagating entry raises its own candidate's error, which is the
    # error the file expects
    raised = [m for name, outcome, m in spy
              if name == "inline_select_aliases" and outcome == "raised"]
    assert raised and "nosuch" in raised[0]


def test_candidates_keep_the_callers_options(spark, monkeypatch):
    """A candidate is rewritten under the caller's options with its
    entry's flag set on top, and the default resubmit keeps them."""
    seen = []
    rewrite = fallbacks.rewrite_databend_sql

    def recording(sql, opts):
        seen.append((sql, opts))
        return rewrite(sql, opts)

    monkeypatch.setattr(fallbacks, "rewrite_databend_sql", recording)
    entry = fallbacks.Fallback(
        "probe", lambda f: True, lambda f, _: ["SELECT 1 AS x"],
        opts=RewriteOptions(lambda_safe=True),
    )
    caller = RewriteOptions(vector_f32=True)
    df, name = fallbacks.execute(
        spark, "SELECT fb_no_such_column", caller, table=(entry,)
    )
    assert (name, df.first().x) == ("probe", 1)
    assert seen[-1] == (
        "SELECT 1 AS x", RewriteOptions(vector_f32=True, lambda_safe=True)
    )
    resubmitting = fallbacks.Fallback(
        "resubmit", lambda f: True,
        lambda f, _: [lambda: f.resubmit("SELECT 2 AS x")],
    )
    df, _ = fallbacks.execute(
        spark, "SELECT fb_no_such_column", caller, table=(resubmitting,)
    )
    assert df.first().x == 2
    assert seen[-1] == ("SELECT 2 AS x", caller)
