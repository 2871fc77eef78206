"""``SessionContext.sql``, the engine's SQL front door, against the suite.

The oracle gate runs each SQL-defined suite query with ``spark.sql``, so
it never exercises ``rewrite_databend_sql``. Here every suite text that
DuckDB runs unchanged (its oracle is the same text) goes through
``ctx.sql`` too, and both results must have the gate's value hash. A text
the rewrite leaves unchanged takes the same ``spark.sql`` path, so only
the rewritten ones run.
"""

import pytest

from databend_spark.session import register_tables
from databend_spark.sqlgen import rewrite_databend_sql
from databend_spark.suite import REGISTRY
from tools.check_oracle import normalize, value_hash

REWRITTEN = [
    q.name
    for q in REGISTRY.values()
    if q.sql is not None
    and q.sql == q.oracle
    and rewrite_databend_sql(q.sql) != q.sql
]


def _hash(df) -> str:
    return value_hash(normalize([tuple(r) for r in df.collect()], df.columns))


def test_rewritten_texts_exist():
    assert len(REWRITTEN) >= 80


@pytest.mark.parametrize("name", REWRITTEN)
def test_front_door_matches_spark(ctx, sf_dir, name):
    text = REGISTRY[name].sql
    # the SLT runner's per-file isolation may have dropped the views
    register_tables(ctx.spark, sf_dir)
    assert _hash(ctx.sql(text)) == _hash(ctx.spark.sql(text))


def test_date_minus_date_is_an_int_day_count(ctx):
    """The reference types DATE - DATE as INT days; Spark would give an
    interval."""
    df = ctx.sql("SELECT to_date('2024-01-10') - to_date('2024-01-01') AS d")
    assert df.dtypes == [("d", "int")]
    assert df.collect()[0].d == 9
