"""Query-suite registry: one entry per implemented operator (SURVEY.md §2).

Each query has a Spark implementation ``fn(spark, sf_dir) -> DataFrame``
and (where SQL-expressible) a DuckDB oracle SQL string. The driver runs
both at sf=0.01 and compares row-count + schema + order-insensitive
value-hash, so:

  * every computed column is explicitly aliased identically on both sides;
  * float aggregations go through DECIMAL casts (exact, order-independent
    sums) and the final value is cast back to DOUBLE — a double is never
    an exact rounding tie at decimal scale >= 1 (ties would need a factor
    5^s in the denominator, impossible for a binary float), so the two
    engines' cast rounding agrees bit-for-bit;
  * raw TIMESTAMP columns are never returned (Arrow tz-awareness differs
    between engines) — we return CAST(ts AS DATE), epoch micros, or parts.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from databend_spark.session import ALL_TABLES, register_tables


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    doc: str = ""
    sql: str | None = None  # Spark SQL text of a sql_query entry


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator registering a DataFrame-API query implementation."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            register_tables(spark, sf_dir, ALL_TABLES)
            return fn(spark, sf_dir)

        REGISTRY[name] = Query(name=name, fn=wrapped, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def sql_query(name: str, spark_sql: str, oracle: str | None = "same", doc: str = ""):
    """Register a SQL-defined query. ``oracle='same'`` reuses the Spark SQL
    text verbatim for DuckDB (the common case — we write ANSI-compatible
    SQL); pass a different string for dialect divergences, or None for
    rows-only checks."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_tables(spark, sf_dir, ALL_TABLES)
        return spark.sql(spark_sql)

    REGISTRY[name] = Query(
        name=name,
        fn=fn,
        oracle=spark_sql if oracle == "same" else oracle,
        doc=doc,
        sql=spark_sql,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.fn for q in REGISTRY.values()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in REGISTRY.values() if q.oracle is not None}
