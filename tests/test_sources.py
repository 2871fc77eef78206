"""Stage readers/writers, COPY INTO file-history, INFER_SCHEMA, system
tables."""

import pytest
from pyspark.sql import functions as F

from databend_spark.sources import infer_schema, read_stage, write_stage


@pytest.fixture(scope="module")
def sample(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", None)],
        "id int, name string, score double",
    )


@pytest.mark.parametrize("fmt", ["parquet", "csv", "tsv", "ndjson", "orc"])
def test_roundtrip(spark, sample, tmp_path, fmt):
    path = str(tmp_path / fmt)
    write_stage(sample, path, fmt)
    back = read_stage(spark, path, fmt)
    got = {
        (r.id, r.name, r.score)
        for r in back.select("id", "name", "score").collect()
    }
    want = {(1, "a", 1.5), (2, "b", 2.5), (3, "c", None)}
    assert got == want


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError, match="unknown file format"):
        read_stage(spark, "/nowhere", "protobuf")


def test_avro_needs_jar(spark, sample, tmp_path):
    with pytest.raises(NotImplementedError, match="spark-avro"):
        write_stage(sample, str(tmp_path / "a"), "avro")


def test_infer_schema(spark, sample, tmp_path):
    path = str(tmp_path / "p")
    write_stage(sample, path, "parquet")
    rows = {
        (r.column_name, r.type) for r in infer_schema(spark, path).collect()
    }
    assert rows == {("id", "int"), ("name", "string"), ("score", "double")}


def test_register_methods_keep_reader_defaults(spark, tmp_path):
    """register_csv/json/orc read through read_stage with the defaults
    they set themselves before: a header and inferred types for CSV,
    one object per line for JSON."""
    from databend_spark.session import SessionContext

    ctx = SessionContext(spark)
    df = spark.sql(
        "SELECT 1 AS i, 'x' AS s, 1.5 AS d, DATE'2024-01-01' AS dt,"
        " TIMESTAMP'2024-01-01 00:00:01' AS ts"
    )
    csv, js, orc = (str(tmp_path / f) for f in ("c", "j", "o"))
    df.write.option("header", "true").csv(csv)
    df.write.json(js)
    df.write.orc(orc)
    got = ctx.register_csv("reg_csv", csv).dtypes
    assert got == [
        ("i", "int"), ("s", "string"), ("d", "double"), ("dt", "date"),
        ("ts", "timestamp"),
    ]
    assert got == spark.read.options(header="true", inferSchema="true").csv(csv).dtypes
    got = ctx.register_json("reg_json", js).dtypes
    assert got == [
        ("d", "double"), ("dt", "string"), ("i", "bigint"), ("s", "string"),
        ("ts", "string"),
    ]
    assert got == spark.read.json(js).dtypes
    got = ctx.register_json("reg_json", js, schema="i int, dt date").dtypes
    assert got == [("i", "int"), ("dt", "date")]
    assert ctx.register_orc("reg_orc", orc).dtypes == df.dtypes
    assert ctx.sql("SELECT count(*) AS n FROM reg_orc").first().n == 1


def test_copy_into_dedups_file_history(ctx, spark, sample, tmp_path):
    p1, p2 = str(tmp_path / "f1"), str(tmp_path / "f2")
    sample.write.parquet(p1)
    sample.write.parquet(p2)
    table = "copy_target_test"
    assert ctx.copy_into(table, [p1]) == 1
    assert ctx.copy_into(table, [p1]) == 0          # already loaded
    assert ctx.copy_into(table, [p1, p2]) == 1      # only the new file
    assert spark.table(table).count() == 6
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_system_tables(ctx):
    tables = {r.name for r in ctx.system("tables").collect()}
    assert "lineitem" in tables
    cols = ctx.system("columns").filter(F.col("table") == "lineitem")
    assert "l_orderkey" in {r.name for r in cols.collect()}
    fns = {r.name for r in ctx.system("functions").collect()}
    assert {"lcase", "to_yyyymm", "div0"} <= fns
    settings = {r.name for r in ctx.system("settings").collect()}
    assert any(s.startswith("spark.") for s in settings)
    with pytest.raises(ValueError, match="unknown system table"):
        ctx.system("nope")


def test_system_functions_lists_what_sql_resolves(ctx):
    """Renames, composed functions and SQL macros: the 540 names the SQL
    path resolves."""
    from databend_spark.functions.registry import COMPOSED, RENAME, SQL_MACROS

    fns = ctx.system("functions")
    names = {r.name for r in fns.collect()}
    assert names == set(RENAME) | set(COMPOSED) | set(SQL_MACROS)
    assert len(names) == 540
    macros = {r.name for r in fns.filter("kind = 'macro'").collect()}
    assert {"to_char", "json_extract_path_text"} <= macros


def test_system_catalog_expansion(ctx, sample, tmp_path):
    """query_log / streams / tasks / stages / databases system tables
    (reference: src/query/storages/system/src/*_table.rs)."""
    ctx.sql("SELECT 1 AS x").collect()
    try:
        ctx.sql("SELECT definitely_not_a_function_xyz()")
    except Exception:
        pass
    # a named-tuple `:` path fails natively and succeeds through the
    # column_not_variant fallback
    assert ctx.sql(
        "SELECT x:a AS a FROM (SELECT named_struct('a', 7) AS x) q"
    ).collect()[0].a == 7
    log = ctx.system("query_log").collect()
    assert any(r.status == "ok" for r in log)
    assert any(r.status == "error" for r in log)
    by_text = {r.query_text: r for r in log}
    assert by_text["SELECT 1 AS x"].fallback == ""
    hit = [r for r in log if "named_struct('a', 7)" in r.query_text]
    assert [(r.status, r.fallback) for r in hit] == [
        ("ok", "column_not_variant")
    ]

    tpath = str(tmp_path / "vt")
    from databend_spark.streaming.incremental import VersionedTable

    vt = VersionedTable(ctx.spark, tpath)
    vt.append(sample)
    s = ctx.create_stream("s1", tpath)
    vt.append(sample)
    srows = {r.name: r for r in ctx.system("streams").collect()}
    assert srows["s1"].has_data and srows["s1"].table_version == 2

    ctx.create_task("t1", lambda: None)
    ctx.create_task("t2", lambda: None, after=["t1"])
    trows = {r.name: r.after for r in ctx.system("tasks").collect()}
    assert trows == {"t1": "", "t2": "t1"}

    stage_dir = str(tmp_path / "stage")
    sample.write.parquet(stage_dir)
    ctx.create_stage("st1", stage_dir)
    assert {r.name for r in ctx.system("stages").collect()} == {"st1"}
    assert len(ctx.list_stage("st1")) > 0

    dbs = {r.name for r in ctx.system("databases").collect()}
    assert "default" in dbs


def test_system_runtime_tables(ctx):
    """engines / clusters / processes / metrics / one / user_functions /
    temp_files (reference: storages/system/src/{engines,clusters,
    processes,metrics}_table.rs)."""
    assert ctx.system("one").first()["dummy"] == 1
    assert "FUSE" in {r.engine for r in ctx.system("engines").collect()}
    cl = ctx.system("clusters").first()
    assert cl["parallelism"] >= 1
    pr = ctx.system("processes").first()
    assert pr["type"] == "Query"
    metrics = {r.metric: r.value for r in ctx.system("metrics").collect()}
    assert metrics["default_parallelism"] >= 1

    from databend_spark.functions.registry import register_sql_macro, unregister_sql_macro

    register_sql_macro("my_double_it", "({0} * 2)")
    try:
        assert ctx.sql("SELECT my_double_it(21) AS v").first()["v"] == 42
        ufs = {r.name for r in ctx.system("user_functions").collect()}
        assert "my_double_it" in ufs
    finally:
        unregister_sql_macro("my_double_it")


def test_bloom_write_roundtrip(spark, tmp_path):
    """bloom_write produces readable parquet and exact equality results
    (bloom filters are advisory skip structures — results unchanged)."""
    from databend_spark.sources.bloom import bloom_write

    df = spark.range(10_000).selectExpr("id", "xxhash64(id) AS k")
    path = str(tmp_path / "bloomed")
    bloom_write(df, path, ["k"], ndv=10_000, num_files=2, block_size=1 << 20)
    back = spark.read.parquet(path)
    probe = df.filter("id = 4242").first()["k"]
    got = back.filter(F.col("k") == probe).collect()
    assert len(got) == 1 and got[0]["id"] == 4242


def test_ngram_index_prunes_like_scan(spark, tmp_path):
    """ngram pruner analog: LIKE '%needle%' reads only files whose gram
    index can contain the needle; results equal the full scan."""
    from databend_spark.sources.ngram_index import (
        build_ngram_index,
        pruned_like_scan,
    )

    path = str(tmp_path / "docs")
    # 8 files; the marker substring lives in exactly one of them
    base = spark.range(4000).selectExpr(
        "id", "concat('common text block ', id % 97) AS txt"
    )
    marked = spark.createDataFrame(
        [(99991, "here hides zanzibar treasure"), (99992, "more zanzibar text")],
        "id long, txt string",
    )
    base.repartition(7).write.parquet(path)
    marked.coalesce(1).write.mode("append").parquet(path)
    build_ngram_index(spark, path, "txt")

    pruned = pruned_like_scan(spark, path, "txt", "zanzibar")
    got = {r.id for r in pruned.collect()}
    assert got == {99991, 99992}
    # the pruned plan touches fewer files than exist
    n_files_read = pruned.select(F.input_file_name()).distinct().count()
    import glob

    n_files_total = len(glob.glob(path + "/*.parquet"))
    assert n_files_read < n_files_total and n_files_read >= 1

    # absent needle prunes to zero files and returns empty
    assert pruned_like_scan(spark, path, "txt", "xylophone").count() == 0
    # short needle falls back to a correct full scan
    assert pruned_like_scan(spark, path, "txt", "za").count() == 2
    # unselective probe (every file matches 'common') stays correct and
    # the driver transfer is bounded: with max_files=1 the explicit file
    # re-plan is abandoned for a plain full scan
    unsel = pruned_like_scan(spark, path, "txt", "common", max_files=1)
    assert unsel.count() == 4000
    # all 7 base files surface rows (input_file_name only reflects files
    # that produced result rows; the marked file has no 'common' rows)
    full_files = unsel.select(F.input_file_name()).distinct().count()
    assert full_files == 7


def test_distributed_copy_decode(spark, tmp_path):
    """Engine path for COPY at scale: file-granularity mapInPandas decode
    (sources/copy_into.py), same per-file decoder as the harness; the
    per-file error summary is a distributed groupBy, no driver loop."""
    from pyspark.sql import types as T

    from databend_spark.sources.copy_into import (
        copy_error_summary,
        copy_into_distributed,
    )
    from databend_spark.sources.stage_format import ColSpec, resolve_format

    files = []
    for i in range(4):
        p = tmp_path / f"part{i}.csv"
        body = f"{i},alpha\n{i + 10},beta\n"
        if i == 3:
            body += "notanint,gamma\n"
        p.write_text(body)
        files.append(str(p))

    fmt = resolve_format({"type": "csv"})
    cols = [
        ColSpec("a", "int", db_type="Int32"),
        ColSpec("b", "string", db_type="String"),
    ]
    schema = T.StructType(
        [
            T.StructField("a", T.IntegerType(), True),
            T.StructField("b", T.StringType(), True),
        ]
    )
    decoded = copy_into_distributed(spark, files, fmt, cols, schema)
    good = decoded.filter("_error IS NULL")
    assert good.count() == 8
    assert good.agg({"a": "sum"}).collect()[0][0] == sum(
        i + i + 10 for i in range(4)
    )
    # plan check: decode runs in tasks (mapInPandas), not on the driver
    assert "MapInPandas" in good._jdf.queryExecution().executedPlan().toString()

    summary = {r["file"]: r for r in copy_error_summary(decoded).collect()}
    bad = [f for f in files if f.endswith("part3.csv")][0]
    assert summary[bad]["errors_seen"] == 1
    assert "invalid text for number" in summary[bad]["first_error"]
    assert all(
        summary[f]["rows_loaded"] == 2 and summary[f]["errors_seen"] == 0
        for f in files
        if f != bad
    )
