"""COPY/stage format surface as oracle-checked queries (SURVEY §2.1).

The round-trip proves the format layer end to end: rows leave through
the unload (``copy_into_location``, ``stage_format.encode_rows`` in one
task per partition), come back through
the distributed per-file decoder (``copy_into_distributed`` — the same
``mapInPandas`` shape a 1000-executor COPY uses), and must aggregate to
exactly what the oracle computes from the original parquet.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from databend_spark.suite.base import register


@register(
    "stage_csv_roundtrip",
    oracle=(
        "SELECT count(*) AS n, CAST(round(sum(o_totalprice), 2) AS "
        "DECIMAL(38,2)) AS total, CAST(min(o_orderdate) AS DATE) AS "
        "first_day "
        "FROM orders WHERE o_orderkey < 4096"
    ),
    doc="CSV unload+distributed COPY decode round-trip (stage_format.py"
    " encoder, copy_into.py mapInPandas decoder; reference COPY INTO"
    " physical_copy_into_table.rs file-granular parallelism)",
)
def stage_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from databend_spark.sources.copy_into import (
        CopyOptions,
        copy_into_distributed,
        copy_into_location,
    )
    from databend_spark.sources.stage_format import ColSpec, resolve_format

    src = (
        spark.table("orders")
        .where(F.col("o_orderkey") < 4096)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )
    fmt = resolve_format({"type": "csv"})
    enc_specs = [
        ColSpec("o_orderkey", "int", bits=64),
        ColSpec("o_totalprice", "decimal", precision=15, scale=2),
        ColSpec("o_orderdate", "date"),
    ]
    tmp = tempfile.mkdtemp(prefix="stage_suite_")
    # several files so the decode genuinely fans out
    copy_into_location(
        src.repartition(8), tmp, fmt, CopyOptions(), qid="0", rel_root=tmp
    )
    files = sorted(os.path.join(tmp, f) for f in os.listdir(tmp))

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DecimalType(15, 2)),
            T.StructField("o_orderdate", T.DateType()),
        ]
    )
    dec = copy_into_distributed(spark, files, fmt, enc_specs, schema)
    return (
        dec.filter("_error IS NULL")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2)
            .cast("decimal(38,2)")
            .alias("total"),
            F.min("o_orderdate").alias("first_day"),
        )
    )
