"""UPDATE / DELETE / MERGE / REPLACE over versioned tables."""

import pytest
from pyspark.sql import functions as F

from databend_spark.operators.mutations import (
    delete_from,
    merge_dataframes,
    merge_into,
    replace_into,
    src,
    update_table,
)
from databend_spark.streaming import Stream, VersionedTable


@pytest.fixture()
def vt(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "id int, name string, price double",
        )
    )
    return t


def _rows(df):
    return {(r.id, r.name, r.price) for r in df.collect()}


def test_update(spark, vt):
    update_table(vt, F.col("id") == 2, {"price": F.lit(99.0)})
    assert _rows(vt.read()) == {(1, "a", 10.0), (2, "b", 99.0), (3, "c", 30.0)}
    # time travel still sees the pre-mutation state
    assert _rows(vt.read(version=1)) == {(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)}


def test_delete(spark, vt):
    delete_from(vt, F.col("price") >= 20.0)
    assert _rows(vt.read()) == {(1, "a", 10.0)}


def test_merge_update_insert_delete(spark, vt):
    source = spark.createDataFrame(
        [(2, "b2", 21.0), (3, "c", 0.0), (4, "d", 40.0)],
        "id int, name string, price double",
    )
    merge_into(
        vt,
        source,
        on=["id"],
        when_matched_update={"name": src("name"), "price": src("price")},
        when_matched_delete=src("price") == 0.0,
    )
    assert _rows(vt.read()) == {
        (1, "a", 10.0),   # untouched
        (2, "b2", 21.0),  # updated
        (4, "d", 40.0),   # inserted; 3 deleted
    }


def test_merge_rejects_duplicate_source_keys(spark, vt):
    dup = spark.createDataFrame(
        [(2, "x", 1.0), (2, "y", 2.0)], "id int, name string, price double"
    )
    with pytest.raises(ValueError, match="duplicate"):
        merge_into(vt, dup, on=["id"])


def test_merge_without_insert(spark):
    t = lambda rows: rows  # noqa: E731
    spark_df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "id int, v double"
    )
    source = spark.createDataFrame([(2, 20.0), (9, 90.0)], "id int, v double")
    out = merge_dataframes(
        spark_df, source, ["id"],
        when_matched_update={"v": src("v")},
        insert_not_matched=False,
    )
    assert {(r.id, r.v) for r in out.collect()} == {(1, 1.0), (2, 20.0)}


def test_replace_into(spark, vt):
    source = spark.createDataFrame(
        [(3, "c9", 99.0), (5, "e", 50.0)], "id int, name string, price double"
    )
    replace_into(vt, source, on=["id"])
    assert _rows(vt.read()) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c9", 99.0), (5, "e", 50.0)
    }


def test_stream_refuses_overwrite_crossing(spark, vt):
    s = Stream(vt, "s")
    delete_from(vt, F.col("id") == 1)
    with pytest.raises(ValueError, match="overwrite"):
        s.read()
    # a stream created after the mutation works again
    s2 = Stream(vt, "s2")
    vt.append(spark.createDataFrame([(9, "z", 9.0)], "id int, name string, price double"))
    assert {r.id for r in s2.read().collect()} == {9}


def test_update_literal_containing_from_is_not_join_update(spark, tmp_path):
    """ADVICE r2: a plain UPDATE whose SET literal contains ' from ' (or
    unbalanced parens) must not be misparsed as UPDATE ... FROM."""
    slt = tmp_path / "upd_literal.test"
    slt.write_text(
        """statement ok
CREATE OR REPLACE TABLE upd_lit(id INT, msg VARCHAR)

statement ok
INSERT INTO upd_lit VALUES (1, 'a'), (2, 'b')

statement ok
UPDATE upd_lit SET msg = 'hello from x (unbalanced' WHERE id = 1

query IT
SELECT id, msg FROM upd_lit ORDER BY id
----
1 hello from x (unbalanced
2 b
"""
    )
    from databend_spark.testkit import run_slt_file

    rep = run_slt_file(spark, str(slt))
    assert rep.failed == 0, rep.failures
    assert rep.passed >= 1


def test_slt_isolation_invalidates_view_memo(spark, tmp_path):
    """run_slt_file drops all temp views (per-file isolation); the next
    register_tables call must re-register even though its memo said the
    views were current (r9 regression: memoized registration + runner
    drop left `lineitem` unresolvable for every later suite query)."""
    from databend_spark.session import register_tables
    from databend_spark.testkit import run_slt_file

    sf_dir = "/root/testdata/sf0.001"
    register_tables(spark, sf_dir)
    assert spark.table("lineitem").columns  # registered

    slt = tmp_path / "noop.test"
    slt.write_text(
        "statement ok\nSELECT 1\n"
    )
    rep = run_slt_file(spark, str(slt))
    assert rep.failed == 0, rep.failures

    register_tables(spark, sf_dir)
    assert spark.table("lineitem").columns  # re-registered after drop


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_merge_checks_duplicate_keys_inside_its_plan(spark, vt):
    """The duplicate-key check is part of the merge plan, not an action
    of its own: a MERGE starts 3 jobs (6 with a separate check). A
    duplicate key fails the commit, which adds no version and no dir."""
    import os

    source = spark.createDataFrame(
        [(2, "b2", 21.0), (4, "d", 40.0)], "id int, name string, price double"
    )
    jobs = _jobs_of(spark, "merge-jobs", lambda: merge_into(
        vt, source, on=["id"], when_matched_update={"name": src("name")}
    ))
    assert jobs == 3
    assert _rows(vt.read()) == {(1, "a", 10.0), (2, "b2", 20.0), (3, "c", 30.0), (4, "d", 40.0)}
    before = (vt.version, sorted(os.listdir(vt.path)))
    dup = spark.createDataFrame(
        [(4, "x", 1.0), (4, "y", 2.0)], "id int, name string, price double"
    )
    with pytest.raises(ValueError, match="MERGE source has duplicate join keys"):
        merge_into(vt, dup, on=["id"])
    assert (vt.version, sorted(os.listdir(vt.path))) == before
