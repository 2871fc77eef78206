"""Stage readers/writers for the reference's file-format surface.

Reference: format enum at
``/root/reference/src/meta/app/src/principal/file_format.rs:67-76``
(Parquet, Csv, Tsv, NDJson, Json, Xml, Orc, Avro) with per-format
decoders under ``src/query/formats/src/``. Spark covers Parquet/CSV/
TSV/NDJSON/JSON/ORC natively (vectorized readers with pushdown for the
columnar ones); Avro and XML require spark-avro/spark-xml jars that are
not in this image — they raise a clear error instead of misbehaving.

``infer_schema`` mirrors the reference's INFER_SCHEMA table function
(``src/query/service/src/table_functions/infer_schema/``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from databend_spark.session import load_table

# databend format name → (spark format, default reader options)
FORMATS: dict[str, tuple[str, dict[str, str]]] = {
    "parquet": ("parquet", {}),
    "csv": ("csv", {"header": "true", "inferSchema": "true"}),
    "tsv": ("csv", {"header": "true", "inferSchema": "true", "sep": "\t"}),
    "ndjson": ("json", {}),  # newline-delimited objects = Spark json default
    "json": ("json", {"multiLine": "true"}),  # whole-file JSON documents
    "orc": ("orc", {}),
    "avro": ("avro", {}),
    "xml": ("xml", {}),
}

_NEEDS_JAR = {
    "avro": "spark-avro (org.apache.spark:spark-avro)",
    "xml": "spark-xml (com.databricks:spark-xml)",
}


def read_stage(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    """SELECT FROM @stage(FILE_FORMAT => fmt) — format-dispatched read.
    Parquet without a schema or reader options goes through
    :func:`~databend_spark.session.load_table`, the engine's parquet
    reader (schema from one footer, no inference job)."""
    key = fmt.lower()
    if key not in FORMATS:
        raise ValueError(f"unknown file format {fmt!r}; supported: {sorted(FORMATS)}")
    if key == "parquet" and schema is None and not options:
        return load_table(spark, path)
    spark_fmt, defaults = FORMATS[key]
    reader = spark.read.format(spark_fmt).options(**{**defaults, **options})
    if schema is not None:
        reader = reader.schema(schema)
    try:
        return reader.load(path)
    except Exception as e:
        if key not in _NEEDS_JAR:
            raise
        # jar missing → actionable error
        raise NotImplementedError(
            f"{key} needs the {_NEEDS_JAR[key]} package on the classpath"
        ) from e


def write_stage(
    df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite", **options
) -> None:
    """COPY INTO @stage — format-dispatched unload."""
    key = fmt.lower()
    if key not in FORMATS:
        raise ValueError(f"unknown file format {fmt!r}; supported: {sorted(FORMATS)}")
    spark_fmt, defaults = FORMATS[key]
    defaults = dict(defaults)
    defaults.pop("inferSchema", None)  # writer-side option only
    if key in _NEEDS_JAR:
        raise NotImplementedError(
            f"{key} needs the {_NEEDS_JAR[key]} package on the classpath"
        )
    df.write.mode(mode).options(**{**defaults, **options}).format(spark_fmt).save(path)


def infer_schema(spark: SparkSession, path: str, fmt: str = "parquet", **options):
    """INFER_SCHEMA table function: one row per column (name, type,
    nullable, order)."""
    df = read_stage(spark, path, fmt, **options)
    rows = [
        (f.name, f.dataType.simpleString(), f.nullable, i)
        for i, f in enumerate(df.schema.fields)
    ]
    return spark.createDataFrame(
        rows, "column_name string, type string, nullable boolean, order_id int"
    )
