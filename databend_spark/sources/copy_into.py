"""COPY INTO: load staged files into a table, unload a DataFrame to a
stage directory. ``SessionContext.copy_into`` and the SQL statement
(``testkit/stage_shim.py``) both call the two entry points here.

The reference parallelizes COPY at file granularity (one reader task
per staged file / file split; ``physical_copy_into_table.rs``).

Load (:func:`copy_into_table`):
- the driver picks the files (:func:`pick_files`: MAX_FILES, FORCE and
  the caller's history, keyed by real path -> (size, mtime));
- each picked file gets one task of an Arrow-batched ``mapInPandas``
  (:func:`copy_into_distributed`) that decodes it: text formats with
  ``stage_format.decode_file``, parquet / ORC / Avro / Arrow with
  ``stage_format._decode_binary_fmt``. Error rows travel in-band;
- the driver decides ON_ERROR from the per-file summary
  (:func:`copy_error_summary`), taking the files in order, and then
  writes the good rows in one write, one output file per source file.
  An aborted COPY writes nothing.

Unload (:func:`copy_into_location`): each partition is encoded by its own
task with ``stage_format.encode_rows`` (or pyarrow / the Avro writer) and
written straight to the stage directory; part files are numbered in
partition order (``data_<query>_<partition>_<part>``), so
(filename, row) shows the global order of a sorted source. Only the
per-file sizes come back to the driver.
"""

from __future__ import annotations

import os
import re
import dataclasses
from dataclasses import dataclass, replace
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from databend_spark.sources.stage_format import (
    FORMAT_SUFFIX,
    ColSpec,
    FormatParams,
    _boolish,
    _decode_binary_fmt,
    compress,
    compression_suffix,
    decode_file,
    encode_rows,
)

__all__ = [
    "CopyOptions",
    "copy_options",
    "list_files",
    "pick_files",
    "history_of",
    "copy_into_table",
    "copy_into_location",
    "copy_into_distributed",
    "copy_error_summary",
    "purge_files",
    "build_colspecs",
    "insert_into",
]

COPY_RESULT_SCHEMA = (
    "`File` string, `Rows_loaded` bigint, `Errors_seen` bigint, "
    "`First_error` string, `First_error_line` bigint"
)
UNLOAD_SCHEMA = (
    "`rows_unloaded` bigint, `input_bytes` bigint, `output_bytes` bigint"
)
DETAILED_SCHEMA = "`file_name` string, `file_size` bigint, `row_count` bigint"


@dataclass
class CopyOptions:
    """The COPY statement's own options (FILE_FORMAT options are parsed
    by ``stage_format.resolve_format``)."""

    files: list[str] | None = None
    pattern: str | None = None
    force: bool = False
    max_files: int = 0
    on_error: str = "abort"
    return_failed_only: bool = False
    purge: bool = False
    disable_variant_check: bool = False
    single: bool = False
    detailed_output: bool = False
    overwrite: bool = False
    use_raw_path: bool = False
    max_file_size: int = 0


def copy_options(opts: dict[str, object]) -> tuple[CopyOptions, dict[str, object]]:
    """Split lowercase-keyed COPY options into :class:`CopyOptions` and
    the rest (FILE_FORMAT options, when a caller passes them flat)."""
    co, rest = CopyOptions(), {}
    kinds = {f.name: f.default for f in dataclasses.fields(CopyOptions)}
    for key, v in opts.items():
        key = key.lower()
        if key not in kinds:
            rest[key] = v
        elif key == "files":
            co.files = [v] if isinstance(v, str) else list(v)
        elif key == "pattern":
            co.pattern = str(v)
        elif isinstance(kinds[key], bool):
            setattr(co, key, _boolish(v))
        elif isinstance(kinds[key], int):
            setattr(co, key, int(str(v or 0)))
        else:
            setattr(co, key, str(v).lower())
    if not re.fullmatch(r"abort|continue|abort_\d+|skip_file(_\d+)?", co.on_error):
        raise ValueError(f"[1005] invalid ON_ERROR option: {co.on_error}")
    return co, rest


def list_files(
    base: str,
    subpath: str = "",
    pattern: str | None = None,
    files: list[str] | None = None,
    rel_root: str | None = None,
) -> list[tuple[str, str]]:
    """(name, path) of the files a COPY from ``base``/``subpath`` sees,
    sorted, named relative to ``rel_root`` (default ``base``).

    FILES names files under the location (``[1006]`` when one is
    missing), and PATTERN is then ignored. Otherwise the location is a
    name prefix, as in the reference's list API: ``ab`` matches
    ``ab.csv``, ``ab/cd.csv`` and ``ab2/x``, and ``ab/`` or an empty
    subpath everything below. Listing is recursive and leaves out
    Spark/Hadoop writer markers; PATTERN full-matches the part of the
    name after the location (``dir/`` + ``x.*`` sees ``x.csv``)."""
    rel_root = rel_root or base
    out: list[tuple[str, str]] = []
    if files:
        sub = subpath.rstrip("/")
        for f in files:
            p = os.path.join(base, sub, f) if sub else os.path.join(base, f)
            if not os.path.isfile(p):
                raise ValueError(f"[1006] file {f} not found in stage")
            out.append((os.path.relpath(p, rel_root), p))
        return sorted(out)
    target = os.path.join(base, subpath) if subpath else base
    root, pfx = target, None
    if subpath and not subpath.endswith("/"):
        root, pfx = os.path.split(target)
    if os.path.isdir(root):
        for dirp, dirs, names in os.walk(root, followlinks=True):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_temporary"))]
            for f in names:
                # writer markers only: the reference lists other
                # _-prefixed objects (its _v_… verification key)
                if f.startswith((".", "_committed", "_started", "_temporary")) or f == "_SUCCESS":
                    continue
                p = os.path.join(dirp, f)
                if pfx is None or os.path.relpath(p, root).startswith(pfx):
                    out.append((os.path.relpath(p, rel_root), p))
    if pattern is not None:
        try:
            rx = re.compile(pattern)
        except re.error:
            rx = re.compile(re.escape(pattern))

        def remainder(p: str) -> str:
            rel = os.path.relpath(p, base)
            return rel[len(subpath):] if subpath and rel.startswith(subpath) else rel

        out = [f for f in out if rx.fullmatch(remainder(f[1]))]
    return sorted(out)


def pick_files(
    listed: list[tuple[str, str]], history: dict[str, tuple], options: CopyOptions
) -> list[tuple[str, str, tuple]]:
    """(name, path) listing -> the (name, path, (size, mtime)) files this
    COPY loads: those the history has not seen with the same size and
    mtime (all of them under FORCE), at most MAX_FILES."""
    picked = []
    for rel, p in listed:
        stt = os.stat(p)
        sig = (stt.st_size, int(stt.st_mtime))
        if options.force or history.get(os.path.realpath(p)) != sig:
            picked.append((rel, p, sig))
    return picked[: options.max_files] if options.max_files else picked


def history_of(picked: list[tuple[str, str, tuple]]) -> dict[str, tuple]:
    """The history entries of loaded files: real path -> (size, mtime)."""
    return {os.path.realpath(p): sig for _, p, sig in picked}


def copy_into_table(
    spark: SparkSession,
    table: str,
    picked: list[tuple[str, str, tuple]],
    fmt: FormatParams,
    options: CopyOptions,
    info: tuple,
    numeric_cast: str = "rounding",
    purge_later: list[str] | None = None,
) -> list[tuple]:
    """Load the picked files into ``table`` -> the per-file result rows
    (``COPY_RESULT_SCHEMA`` order). Every file is decoded into the
    target columns. ``info`` is (fields, declared types,
    nullability, defaults), where the fields are the table's or those of
    an explicit column list; the other columns take their DEFAULT. PURGE
    removes the loaded files after the write, or appends them to
    ``purge_later`` when the caller defers it (inside a transaction)."""
    if not picked:
        return []
    fields_, decl, nulls, defaults = info
    specs = build_colspecs(fields_, decl, nulls, defaults)
    schema = T.StructType([T.StructField(f.name, f.dataType, True) for f in fields_])
    if options.disable_variant_check:
        fmt = replace(fmt, variant_check=False)
    decoded = copy_into_distributed(
        spark, [p for _, p, _ in picked], fmt, specs, schema, numeric_cast,
        names=[rel for rel, _, _ in picked],
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        summary = {r.file: r for r in copy_error_summary(decoded).collect()}

        def nth_error(path: str, n: int) -> tuple[int, str]:
            errs = decoded.filter((F.col("_file") == path) & F.col("_error").isNotNull())
            last = errs.orderBy("_row").limit(n).collect()[-1]
            return last["_row"], last["_error"]

        results, dropped = _on_error(picked, summary, options.on_error, nth_error)
        if any(r[1] for r in results):
            good = decoded.filter(
                F.col("_error").isNull() & F.col("_row").isNotNull()
                & ~F.col("_file").isin(dropped)
            )
            insert_into(spark, good.select(*schema.names), table, fields_, defaults)
    finally:
        decoded.unpersist()
    purge_files([f for f in picked if f[1] not in dropped], options, purge_later)
    return results


def _on_error(picked, summary, on_error: str, nth_error) -> tuple[list, list]:
    """Apply ON_ERROR to the per-file summaries in file order ->
    (result rows, paths whose rows are not written). Raises on abort."""
    budget = skip = None
    if m := re.fullmatch(r"abort_(\d+)", on_error):
        budget = int(m.group(1))
    elif on_error.startswith("skip_file"):
        skip = int(on_error[10:] or 1)
    results, dropped, seen_errors = [], [], 0
    for rel, p, _sig in picked:
        s = summary.get(p)
        if s is None:  # no records
            continue
        if s.file_error is not None:  # the whole file failed to decode
            if (on_error != "continue" and skip is None) or "[1006]" in s.file_error:
                raise RuntimeError(s.file_error)
            msg = re.sub(r"^\[\d+\]\s*", "", s.file_error)
            results.append((rel, 0, 1, msg, 1))
            dropped.append(p)
            continue
        n, errs = s.rows_loaded, s.errors_seen
        if errs and on_error == "abort":
            raise RuntimeError(
                f"[1046] error happens after fetched {n} rows: "
                f"{s.first_error}\nat file '{rel}', line {s.first_error_line}"
            )
        if budget is not None:
            # one job-wide error counter across the files (reference
            # error_handler.rs AtomicU64)
            if errs and seen_errors + errs >= budget:
                ln, msg = nth_error(p, budget - seen_errors)
                raise RuntimeError(
                    f"[1046] abort after {budget} errors! the last error: "
                    f"{msg}\nat file '{rel}', line {ln}"
                )
            seen_errors += errs
            results.append((rel, n, 0, None, None))
        elif skip is not None and errs >= skip:
            results.append((rel, 0, errs, s.first_error, s.first_error_line))
            dropped.append(p)
        else:
            results.append((rel, n, errs, s.first_error, s.first_error_line))
    return results, dropped


def purge_files(
    picked, options: CopyOptions, purge_later: list[str] | None = None
) -> None:
    """PURGE: remove the loaded files, or defer them to ``purge_later``."""
    if not options.purge:
        return
    for _rel, p, _sig in picked:
        if purge_later is not None:
            purge_later.append(p)
            continue
        try:
            os.remove(p)
        except OSError:
            pass


def insert_into(
    spark: SparkSession, df: DataFrame, table: str, fields_, defaults: dict
) -> None:
    """Insert ``df`` (columns ``fields_``) into ``table``; a column left
    out takes its declared DEFAULT, or NULL."""
    full = spark.table(table).schema.fields
    if len(fields_) == len(full):
        df.write.insertInto(table)
        return
    given = {f.name.lower() for f in fields_}
    sel = []
    for f in full:
        if f.name.lower() in given:
            sel.append(F.col(f.name))
        elif f.name.lower() in defaults:
            sel.append(F.expr(str(defaults[f.name.lower()])).cast(f.dataType).alias(f.name))
        else:
            sel.append(F.lit(None).cast(f.dataType).alias(f.name))
    df.select(*[F.col(f.name) for f in fields_]).select(*sel).write.insertInto(table)


def copy_into_distributed(
    spark: SparkSession,
    files: list[str],
    fmt: FormatParams,
    cols: list[ColSpec],
    schema: T.StructType,
    numeric_cast: str = "rounding",
    names: list[str] | None = None,
) -> DataFrame:
    """Decode staged files, one task per file; returns a DataFrame with
    the target columns plus ``_file`` / ``_row`` / ``_error`` metadata.

    A good row has ``_row`` (its index) and no ``_error``; a bad row its
    1-based line and message; a file that fails as a whole one row with
    ``_error`` and no ``_row``; a file with records but neither rows nor
    errors (blank lines) one row with neither. ``names`` are the file
    names error messages and decompression see (default: the paths)."""
    out_schema = T.StructType(list(schema.fields)).add("_file", "string", False)
    out_schema = out_schema.add("_row", "long").add("_error", "string")
    n = max(1, len(files))
    # one file per partition: range() puts row i in partition i
    lookup = F.array(*[F.struct(F.lit(p), F.lit(nm)) for p, nm in zip(files, names or files)])
    files_df = spark.range(0, len(files), 1, n).select(
        F.element_at(lookup, F.col("id").cast("int") + 1).alias("f")
    ).select(F.col("f.col1").alias("path"), F.col("f.col2").alias("name"))

    cols_names = [f.name for f in schema.fields]
    meta = ["_file", "_row", "_error"]

    def _decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            for path, name in zip(pdf["path"], pdf["name"]):
                try:
                    if fmt.type in ("parquet", "orc", "avro", "arrow"):
                        rows, errors = _decode_binary_fmt(path, fmt, cols)
                        seen = len(rows)
                    else:
                        with open(path, "rb") as fh:
                            res = decode_file(fh.read(), name, fmt, cols, numeric_cast)
                        rows, errors, seen = res.rows, res.errors, res.seen
                except Exception as e:  # noqa: BLE001 whole-file failure
                    rows, errors, seen = [], [(None, str(e))], 1
                out = [tuple(r) + (path, i, None) for i, r in enumerate(rows)]
                out += [(None,) * len(cols_names) + (path, ln, msg) for ln, msg in errors]
                if seen and not out:
                    out = [(None,) * len(cols_names) + (path, None, None)]
                yield pd.DataFrame(out, columns=cols_names + meta)

    return files_df.mapInPandas(_decode, out_schema)


def copy_error_summary(decoded: DataFrame) -> DataFrame:
    """Per-file COPY result (file, rows_loaded, errors_seen, first_error,
    first_error_line, file_error) computed distributedly."""
    err = F.col("_error").isNotNull()
    return (
        decoded.groupBy(F.col("_file").alias("file"))
        .agg(
            F.count(F.when(~err & F.col("_row").isNotNull(), 1)).alias("rows_loaded"),
            F.count(F.col("_error")).alias("errors_seen"),
            F.min(F.when(err, F.struct("_row", "_error"))).alias("fe"),
            F.max(F.when(err & F.col("_row").isNull(), F.col("_error"))).alias("file_error"),
        )
        .select(
            "file",
            "rows_loaded",
            "errors_seen",
            F.col("fe._error").alias("first_error"),
            F.col("fe._row").alias("first_error_line"),
            "file_error",
        )
    )


def copy_into_location(
    df: DataFrame,
    directory: str,
    fmt: FormatParams,
    options: CopyOptions,
    qid: str,
    rel_root: str,
    exact: str | None = None,
    ordered: bool = True,
) -> DataFrame:
    """Unload ``df`` into ``directory``: every partition is encoded and
    written by its own task; returns the COPY result (per-file rows
    under DETAILED_OUTPUT). ``exact`` names the one file to write
    (USE_RAW_PATH). A source without ORDER BY (``ordered`` False) whose
    partition splits into more than two files numbers them in reverse:
    a parallel unload shows no order. Zero rows write no file."""
    spark = df.sparkSession
    if fmt.is_text_like and fmt.compression in ("snappy", "lzo", "brotli"):
        raise RuntimeError(
            f"[2507] compression {fmt.compression} not supported for "
            f"{fmt.type} unload"
        )
    if exact and os.path.exists(os.path.join(directory, exact)) and not options.overwrite:
        raise RuntimeError(f"[1006] file already exists: {exact}")
    single = options.single or exact is not None
    schema = df.schema
    specs = build_colspecs(schema.fields, {}, {}, {})
    max_fs = 0 if single else options.max_file_size
    sfx = FORMAT_SUFFIX.get(fmt.type, ".dat")

    def _encode(part: int, it) -> Iterator:
        rows = list(it)
        if not rows:
            return
        chunks = [rows]
        if max_fs:
            sample = rows[: max(1, len(rows) // 100)]
            per = (
                len(encode_rows(sample, specs, fmt)) / len(sample)
                if fmt.type in ("csv", "tsv", "text", "ndjson") else 64
            )
            step = max(1, int(max_fs / max(per, 1)))
            chunks = [rows[i : i + step] for i in range(0, len(rows), step)]
            if not ordered and len(chunks) > 2:
                chunks = chunks[::-1]
        for n, chunk in enumerate(chunks):
            name = exact or f"data_{qid}_{part:04d}_{n:08d}{sfx}"
            payload = _encode_payload(chunk, schema, specs, fmt)
            blob = payload
            if fmt.type not in ("parquet", "orc", "arrow", "avro"):
                blob = compress(payload, fmt.compression, inner_name=name[:13].ljust(13, "0"))
                name = exact or name + compression_suffix(fmt.compression)
            out_path = os.path.join(directory, name)
            # write temp + os.replace: replaces a symlink entry instead
            # of following it (stage dirs may symlink shared fixtures)
            tmp_path = f"{out_path}.tmp.{os.getpid()}"
            with open(tmp_path, "wb") as fh:
                fh.write(blob)
            os.replace(tmp_path, out_path)
            yield os.path.relpath(out_path, rel_root), len(blob), len(chunk), len(payload)

    src = df.coalesce(1) if single else df
    written = sorted(src.rdd.mapPartitionsWithIndex(_encode).collect())
    if options.detailed_output:
        return spark.createDataFrame([w[:3] for w in written], DETAILED_SCHEMA)
    return spark.createDataFrame(
        [(sum(w[2] for w in written), sum(w[3] for w in written), sum(w[1] for w in written))],
        UNLOAD_SCHEMA,
    )


def _encode_payload(rows, schema: T.StructType, specs, fmt: FormatParams) -> bytes:
    """Rows of one unload file -> the file's bytes before compression."""
    if fmt.type == "avro":
        from databend_spark.sources.avro_reader import write_avro_bytes

        return write_avro_bytes(rows, schema)
    if fmt.type not in ("parquet", "orc", "arrow"):
        return encode_rows(rows, specs, fmt)
    import io

    import pandas as pd
    import pyarrow as pa
    import pyarrow.orc as po
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    pdf = pd.DataFrame([tuple(r) for r in rows], columns=schema.names)
    try:
        tbl = pa.Table.from_pandas(pdf, schema=to_arrow_schema(schema), preserve_index=False)
    except Exception:  # noqa: BLE001 exotic types
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    buf = io.BytesIO()
    comp = fmt.compression if fmt.compression not in ("none", "auto") else None
    if fmt.type == "parquet":
        pq.write_table(tbl, buf, compression=comp or "zstd")
    elif fmt.type == "orc":
        po.write_table(tbl, buf)
    else:
        with pa.ipc.new_file(buf, tbl.schema) as w:
            w.write_table(tbl)
    return buf.getvalue()


# -- target-table column specs ---------------------------------------------


def _spark_kind(dt: T.DataType) -> tuple[str, dict]:
    if isinstance(dt, T.ByteType):
        return "int", {"bits": 8}
    if isinstance(dt, T.ShortType):
        return "int", {"bits": 16}
    if isinstance(dt, T.IntegerType):
        return "int", {"bits": 32}
    if isinstance(dt, T.LongType):
        return "int", {"bits": 64}
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float", {}
    if isinstance(dt, T.DecimalType):
        return "decimal", {"precision": dt.precision, "scale": dt.scale}
    if isinstance(dt, T.BooleanType):
        return "bool", {}
    if isinstance(dt, T.DateType):
        return "date", {}
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp", {}
    if isinstance(dt, T.BinaryType):
        return "binary", {}
    if isinstance(dt, T.ArrayType):
        return "array", {}
    if isinstance(dt, T.MapType):
        return "map", {}
    if isinstance(dt, T.StructType):
        return "tuple", {}
    return "string", {}


_DB_TYPE_DISPLAY = {
    "int8": "Int8", "tinyint": "Int8", "int16": "Int16", "smallint": "Int16",
    "int32": "Int32", "int": "Int32", "integer": "Int32",
    "int64": "Int64", "bigint": "Int64",
    "uint8": "UInt8", "uint16": "UInt16", "uint32": "UInt32",
    "uint64": "UInt64",
    "float": "Float32", "float32": "Float32",
    "double": "Float64", "float64": "Float64",
    "string": "String", "varchar": "String", "text": "String",
    "bool": "Boolean", "boolean": "Boolean",
    "date": "Date", "datetime": "Timestamp", "timestamp": "Timestamp",
    "binary": "Binary", "variant": "Variant", "json": "Variant",
    "bitmap": "Bitmap", "geometry": "Geometry", "interval": "Interval",
    "uuid": "String",
}


def build_colspecs(
    fields: list[T.StructField],
    decl_types: dict[str, str],
    nullability: dict[str, bool],
    defaults: dict[str, str],
) -> list[ColSpec]:
    """Target-table column specs for the decoder: Spark physical type
    drives parsing, the DDL-declared Databend type drives error text."""
    out = []
    for f in fields:
        kind, extra = _spark_kind(f.dataType)
        decl = (decl_types.get(f.name.lower()) or "").lower()
        base = re.sub(r"\(.*", "", decl)
        if base in ("variant", "json"):
            kind = "variant"
        db = _DB_TYPE_DISPLAY.get(base)
        if db is None:
            db = {
                "int": f"Int{extra.get('bits', 32)}",
                "float": "Float64",
                "decimal": "Decimal",
                "bool": "Boolean",
                "date": "Date",
                "timestamp": "Timestamp",
                "binary": "Binary",
                "string": "String",
                "variant": "Variant",
            }.get(kind, kind.capitalize())
        if db == "Decimal" or base == "decimal":
            p = extra.get("precision", 38)
            s = extra.get("scale", 0)
            db = f"Decimal({p}, {s})"
        nullable = nullability.get(f.name.lower(), True)
        spec = _nest(ColSpec(
            name=f.name, kind=kind, db_type=db, nullable=nullable, **extra
        ), f.dataType)
        dflt = defaults.get(f.name.lower())
        if dflt is not None:
            v = _literal_default(dflt, kind)
            if v is not _NOPE:
                spec.default = v
            else:
                spec.default_expr = dflt
        out.append(spec)
    return out


def _sub_spec(name: str, dt: T.DataType) -> ColSpec:
    kind, extra = _spark_kind(dt)
    return _nest(ColSpec(name=name, kind=kind, db_type=kind.capitalize(), **extra), dt)


def _nest(spec: ColSpec, dt: T.DataType) -> ColSpec:
    """Member specs of a tuple / array / map column."""
    if isinstance(dt, T.StructType):
        spec.subs = [_sub_spec(sf.name, sf.dataType) for sf in dt.fields]
    elif isinstance(dt, T.ArrayType):
        spec.elem = _sub_spec("elem", dt.elementType)
    elif isinstance(dt, T.MapType):
        spec.subs = [_sub_spec("key", dt.keyType)]
        spec.elem = _sub_spec("value", dt.valueType)
    return spec


_NOPE = object()


def _literal_default(txt: str, kind: str):
    t = txt.strip()
    if t.upper() == "NULL":
        return None
    if m := re.fullmatch(r"'((?:[^']|'')*)'", t):
        return m.group(1).replace("''", "'")
    try:
        if kind == "int":
            return int(t)
        if kind == "float":
            return float(t)
        if kind == "bool":
            return t.lower() == "true"
        if re.fullmatch(r"-?\d+(\.\d+)?", t):
            return float(t) if "." in t else int(t)
    except ValueError:
        pass
    return _NOPE
