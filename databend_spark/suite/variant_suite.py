"""Variant / JSON operator suite (SURVEY.md §2.8 variant surface;
reference src/query/functions/src/scalars/variant.rs and
srfs/variant.rs): object construction, jq filters, FLATTEN, and the
jsonb operators — each Spark side runs through the Databend dialect
layer (sqlgen + the __variant UDFs) and is oracle-checked against
DuckDB's native JSON functions on the same parquet.

The JSON text format is canonical on both engines (compact separators,
double-quoted keys); keys are chosen alphabetical so our sorted-key
canonicalization and DuckDB's insertion order agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from databend_spark.session import ALL_TABLES, register_tables
from databend_spark.suite.base import register


def _dialect_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    from databend_spark.sqlgen.fallbacks import execute

    register_tables(spark, sf_dir, ALL_TABLES)
    return execute(spark, sql)[0]


_OBJ = (
    "object_construct('key', o_orderkey, 'price',"
    " CAST(o_totalprice AS DOUBLE), 'stat', o_orderstatus)"
)
_OBJ_ORACLE = (
    "to_json(struct_pack(key := o_orderkey, price :="
    " CAST(o_totalprice AS DOUBLE), stat := o_orderstatus))"
)


@register(
    "fn_variant_object_construct",
    oracle=(
        "SELECT o_orderkey, "
        + _OBJ_ORACLE
        + " AS obj FROM orders WHERE o_orderkey < 2000"
    ),
    doc="object_construct → canonical JSONB object text "
    "(reference scalars/variant.rs object_construct)",
)
def fn_variant_object_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dialect_sql(
        spark,
        sf_dir,
        f"SELECT o_orderkey, {_OBJ} AS obj"
        " FROM orders WHERE o_orderkey < 2000",
    )


@register(
    "fn_variant_jq",
    oracle=(
        "SELECT o_orderkey, CAST(json_extract("
        + _OBJ_ORACLE
        + ", '$.price') AS VARCHAR) AS pj"
        " FROM orders WHERE o_orderkey < 2000"
    ),
    doc="jq('.price', obj) filter extraction (reference srfs/variant.rs jq)",
)
def fn_variant_jq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dialect_sql(
        spark,
        sf_dir,
        f"SELECT o_orderkey, jq('.price', {_OBJ}) AS pj"
        " FROM orders WHERE o_orderkey < 2000",
    )


@register(
    "fn_variant_flatten",
    oracle=(
        "SELECT t.o_orderkey, k.k AS k,"
        " CAST(json_extract(t.obj, '$.' || k.k) AS VARCHAR) AS v"
        " FROM (SELECT o_orderkey, "
        + _OBJ_ORACLE
        + " AS obj FROM orders WHERE o_orderkey < 2000) t,"
        " unnest(json_keys(t.obj)) AS k(k)"
    ),
    doc="LATERAL FLATTEN over a variant object → (key, value) rows "
    "(reference srfs/variant.rs flatten)",
)
def fn_variant_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dialect_sql(
        spark,
        sf_dir,
        "SELECT t.o_orderkey, f.key AS k, f.value AS v FROM"
        f" (SELECT o_orderkey, {_OBJ} AS obj FROM orders"
        " WHERE o_orderkey < 2000) t,"
        " LATERAL FLATTEN(input => t.obj) f",
    )


@register(
    "fn_variant_jsonb_ops",
    oracle=(
        "SELECT o_orderkey,"
        " json_extract(obj, '$.price') IS NOT NULL AS has_price,"
        " json_extract(obj, '$.missing') IS NOT NULL AS has_missing,"
        " CAST(json_extract(obj, '$.stat') AS VARCHAR) AS stat_v"
        " FROM (SELECT o_orderkey, "
        + _OBJ_ORACLE
        + " AS obj FROM orders WHERE o_orderkey < 2000) t"
    ),
    doc="jsonb operators @? and -> over variant objects "
    "(reference scalars/variant.rs json_exists / get)",
)
def fn_variant_jsonb_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dialect_sql(
        spark,
        sf_dir,
        "SELECT o_orderkey,"
        " obj @? '$.price' AS has_price,"
        " obj @? '$.missing' AS has_missing,"
        " obj -> 'stat' AS stat_v"
        " FROM (SELECT o_orderkey, "
        f"{_OBJ} AS obj FROM orders WHERE o_orderkey < 2000) t",
    )
