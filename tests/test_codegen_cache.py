"""Repeated queries reuse their generated classes.

Spark caches Janino-compiled whole-stage classes JVM-wide, bounded by
``spark.sql.codegen.cache.maxEntries`` (default 100). The seven SQL texts
below compile 103 classes at sf0.001, so under the default every repeat
pass evicts and recompiles; ``get_spark`` sizes the cache so a repeat
compiles nothing.
"""

import math

from pyspark.sql import functions as F

from databend_spark.operators.mutations import merge_dataframes, src
from databend_spark.session import SessionContext, codegen_compiles, session_state
from databend_spark.suite import REGISTRY

# perfbench's olap_sf01 ops, submitted as SQL text through ctx.sql
OLAP = (
    "tpch_q1",
    "tpch_q3",
    "tpch_q6",
    "tpch_q9",
    "tpch_q18",
    "hits_q09",
    "tpcds_rank_in_category",
)


def _run_pass(ctx) -> int:
    before = codegen_compiles(ctx.spark)
    for name in OLAP:
        ctx.sql(REGISTRY[name].oracle).collect()
    return codegen_compiles(ctx.spark) - before


def test_repeat_pass_compiles_nothing(ctx):
    _run_pass(ctx)
    assert _run_pass(ctx) == 0


def test_repeat_merge_compiles_nothing(spark):
    """A MERGE's plans must generate the same code text every time; a
    codegen'd LIMIT would not (its counter name is JVM-unique)."""
    target = spark.range(100).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v")
    )
    source = spark.range(90, 110).select(
        F.col("id").alias("k"), F.lit(2.0).alias("v")
    )

    def run() -> int:
        before = codegen_compiles(spark)
        merge_dataframes(
            target, source, ["k"], when_matched_update={"v": src("v")}
        ).collect()
        return codegen_compiles(spark) - before

    run()
    assert run() == 0


def test_metrics_report_codegen(ctx):
    rows = dict(ctx.system("metrics").collect())
    compiles = rows["codegen_compiles"]
    max_entries = rows["codegen_cache_max_entries"]
    assert math.isfinite(compiles) and compiles >= 0
    assert math.isfinite(max_entries)
    assert max_entries == float(
        ctx.spark.conf.get("spark.sql.codegen.cache.maxEntries")
    )
    assert rows["python_udfs_registered"] == len(session_state(ctx.spark).udfs)
    # a new session has registered none; a query registers what it calls
    fresh = SessionContext(ctx.spark.newSession())
    assert dict(fresh.system("metrics").collect())["python_udfs_registered"] == 0
    fresh.sql("SELECT humanize_size(1024) AS v, soundex('a') AS w").collect()
    assert dict(fresh.system("metrics").collect())["python_udfs_registered"] == 2
