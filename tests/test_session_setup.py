"""Session set-up pays only for what it uses: helper UDFs are registered
when a statement first calls them, and table schemas come from the
parquet footer instead of a Spark inference job."""

import datetime
import decimal
import glob
import os
import subprocess
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession
from pyspark.sql.types import LongType, StructField, StructType, TimestampType
from pyspark.sql.udf import UDFRegistration

from databend_spark.session import (
    CODEGEN_CACHE_CONF,
    CODEGEN_CACHE_ENTRIES,
    TPCH_TABLES,
    SessionContext,
    _default_parallelism,
    _footer_schema,
    get_spark,
    load_table,
    register_tables,
    session_state,
)
from databend_spark.streaming.incremental import DynamicTable, VersionedTable

SF001 = "/root/testdata/sf0.01"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def fresh(spark):
    """A session that shares the JVM but none of the test session's
    temp views, functions or set-up record."""
    return spark.newSession()


@pytest.mark.parametrize("sql, want", [
    ("SELECT parse_json('{\"a\":1}')['a'] AS v", "1"),
    ("SELECT json_typeof(parse_json('[1,2]')) AS v", "ARRAY"),
    ("SELECT soundex('Robert') AS v", "R163"),
    ("SELECT humanize_size(1024) AS v", "1.00 KiB"),
    # a helper without the __ prefix
    ("SELECT markov_generate('[(0,6,4,{97:4,98:2,99:2,100:2})]',"
     " '{\"order\":1,\"sliding_window_size\":8}', 0, 'ab') AS v", None),
])
def test_helpers_resolve_without_register_tables(fresh, sql, want):
    assert SessionContext(fresh).sql(sql).first()["v"] == want


def test_register_tables_starts_no_job(fresh, sf_dir):
    sc = fresh.sparkContext
    sc.setJobGroup("register-guard", "register_tables on a fresh session")
    try:
        register_tables(fresh, sf_dir, TPCH_TABLES + ("events",))
        assert _jobs(fresh, "register-guard") == 0
        # the tracker does see a schema-inference job
        fresh.read.parquet(os.path.join(sf_dir, "region.parquet"))
        assert _jobs(fresh, "register-guard") == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert session_state(fresh).udfs == set()
    assert not fresh.catalog.functionExists("__variant_access")
    for t in TPCH_TABLES + ("events",):
        assert fresh.catalog.tableExists(t)
    assert dict(fresh.table("events").dtypes)["ts"] == "timestamp"


def test_query_registers_only_the_helpers_it_names(fresh):
    ctx = SessionContext(fresh)
    metrics = dict(ctx.system("metrics").collect())
    assert metrics["python_udfs_registered"] == 0
    assert ctx.sql("SELECT soundex('Robert') AS v").first()["v"] == "R163"
    assert session_state(fresh).udfs == {"__soundex"}
    assert fresh.catalog.functionExists("__soundex")
    assert not fresh.catalog.functionExists("__humanize_size")
    metrics = dict(ctx.system("metrics").collect())
    assert metrics["python_udfs_registered"] == 1


def test_threads_register_a_helper_once(fresh, monkeypatch):
    calls = []
    register = UDFRegistration.register

    def slow_register(self, name, *args, **kwargs):
        calls.append(name)
        time.sleep(0.2)  # holds the registration open for the other threads
        return register(self, name, *args, **kwargs)

    monkeypatch.setattr(UDFRegistration, "register", slow_register)
    ctx = SessionContext(fresh)
    n = 6  # more threads than the machine's cores
    barrier = threading.Barrier(n)
    out, errors = [], []

    def run():
        barrier.wait()
        try:
            out.append(ctx.sql("SELECT humanize_size(1024) AS v").first()["v"])
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert out == ["1.00 KiB"] * n
    assert calls == ["__humanize_size"]


def test_register_parquet_reads_nanos_as_timestamp(ctx, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    ts = datetime.datetime(2024, 1, 1, 12, 0, 0, 123456)
    pq.write_table(
        pa.table({"ts": pa.array([ts], pa.timestamp("ns"))}), path
    )
    df = ctx.register_parquet("nanos_t", path)
    assert dict(df.dtypes)["ts"] == "timestamp"
    row = ctx.sql("SELECT ts + INTERVAL 1 DAY AS t FROM nanos_t").first()
    assert row["t"] == ts + datetime.timedelta(days=1)


def _with_nanos_as_timestamp(schema: StructType, path: str) -> StructType:
    """Spark's inferred schema with the TIMESTAMP(NANOS) columns load_table
    converts from longs."""
    nanos = {
        f.name for f in pq.read_schema(path)
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    }
    return StructType([
        StructField(f.name, TimestampType(), f.nullable)
        if f.name in nanos and f.dataType == LongType() else f
        for f in schema.fields
    ])


def _assert_footer_schema(spark, path):
    inferred = spark.read.parquet(path).schema
    assert _footer_schema(spark, path)[0] == inferred
    assert load_table(spark, path).schema == _with_nanos_as_timestamp(
        inferred, path
    )


@pytest.mark.skipif(not os.path.isdir(SF001), reason=f"{SF001} missing")
@pytest.mark.parametrize(
    "name", ["customer", "documents", "embeddings", "events", "lineitem",
             "nation", "orders", "part", "region", "supplier"],
)
def test_footer_schema_matches_inference_testdata(spark, name):
    _assert_footer_schema(spark, os.path.join(SF001, f"{name}.parquet"))


def test_footer_schema_matches_inference_pyarrow_types(spark, tmp_path):
    ts = [datetime.datetime(2024, 1, 1, 0, 0, 1, 5000), None]
    table = pa.table({
        "i8": pa.array([1, None], pa.int8()),
        "i16": pa.array([1, None], pa.int16()),
        "i32": pa.array([1, None], pa.int32()),
        "i64": pa.array([1, None], pa.int64()),
        "u8": pa.array([1, None], pa.uint8()),
        "u16": pa.array([1, None], pa.uint16()),
        "u32": pa.array([1, None], pa.uint32()),
        "u64": pa.array([1, None], pa.uint64()),
        "f32": pa.array([1.5, None], pa.float32()),
        "f64": pa.array([1.5, None], pa.float64()),
        "dec": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(12, 2)),
        "d": pa.array([datetime.date(2024, 1, 1), None]),
        "b": pa.array([True, None]),
        "bin": pa.array([b"\x00\x01", None]),
        "dict": pa.array(["a", None]).dictionary_encode(),
        "ts_ms": pa.array(ts, pa.timestamp("ms")),
        "ts_us": pa.array(ts, pa.timestamp("us")),
        "ts_ns": pa.array(ts, pa.timestamp("ns")),
        "ts_ms_tz": pa.array(ts, pa.timestamp("ms", tz="UTC")),
        "ts_us_tz": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "ts_ns_tz": pa.array(ts, pa.timestamp("ns", tz="America/New_York")),
        "l": pa.array([[1.0, None], None], pa.list_(pa.float32())),
        "s": pa.array([{"a": 1, "b": "x"}, None]),
        "m": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int64())),
        "nested": pa.array([[{"k": [1]}], None]),
        "null": pa.array([None, None], pa.null()),
    })
    path = str(tmp_path / "types.parquet")
    pq.write_table(table, path)
    _assert_footer_schema(spark, path)
    row = load_table(spark, path).filter("i8 = 1").first()
    assert row["ts_ms"] == row["ts_us"] == row["ts_ns"] == ts[0]
    assert row["ts_ns_tz"] == ts[0] and row["dec"] == decimal.Decimal("1.25")


def test_directory_reads_through_footer(spark, tmp_path):
    path = tmp_path / "dir"
    path.mkdir()
    pq.write_table(pa.table({"i": [1, 2]}), str(path / "part-0.parquet"))
    sc = spark.sparkContext
    sc.setJobGroup("dir-guard", "load_table of a directory")
    try:
        df = load_table(spark, str(path))
        assert _jobs(spark, "dir-guard") == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert df.schema == spark.read.parquet(str(path)).schema
    assert df.count() == 2


def _nanos_table(path: str, ts: datetime.datetime) -> None:
    pq.write_table(
        pa.table({"ts": pa.array([ts], pa.timestamp("ns")), "i": [1]}), path
    )


def test_directory_reads_nanos_as_timestamp(ctx, tmp_path):
    """A directory, a glob and a hive-partitioned tree read nanos columns
    the way a single file does."""
    ts = datetime.datetime(2024, 1, 1, 12, 0, 0, 123456)
    for sub in ("flat", "hive/k=1", "hive/k=2"):
        (tmp_path / sub).mkdir(parents=True)
        _nanos_table(str(tmp_path / sub / "part-0.parquet"), ts)
    (tmp_path / "flat" / "_SUCCESS").write_text("")
    for path, n in [
        (tmp_path / "flat", 1),
        (tmp_path / "flat" / "*.parquet", 1),
        (tmp_path / "hive", 2),
    ]:
        df = ctx.register_parquet("nsd", str(path))
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert [r.ts for r in ctx.sql("SELECT ts FROM nsd").collect()] == [ts] * n


def test_footer_skips_hidden_and_empty_dirs(spark, tmp_path):
    root = tmp_path / "t"
    for d in ("_temporary/0", ".staging", "_c=0", "k=1"):
        (root / d).mkdir(parents=True)
    # files Spark's listing hides carry another schema
    for d in ("_temporary/0", ".staging"):
        pq.write_table(pa.table({"hidden": ["x"]}), str(root / d / "part-0.parquet"))
    pq.write_table(pa.table({"i": [1]}), str(root / "k=1/part-0.parquet"))
    (root / "_SUCCESS").write_text("")
    # _c=0 is a visible hive directory with no file, so the walk backs out
    for path in (str(root), str(root / "k=*")):
        df = load_table(spark, path)
        assert df.schema == spark.read.parquet(path).schema
        assert df.count() == 1
    with pytest.raises(FileNotFoundError):
        load_table(spark, str(root / "_c=0"))


def test_partitioned_directories_match_inference(spark, tmp_path):
    hive = tmp_path / "hive"
    for k, s in [(1, "a"), (2, "b")]:
        (hive / f"k={k}" / f"s={s}").mkdir(parents=True)
        pq.write_table(
            pa.table({"i": [k], "d": [decimal.Decimal("1.5")]}),
            str(hive / f"k={k}" / f"s={s}" / "part-0.parquet"),
        )
    written = str(tmp_path / "spark_written")
    spark.sql(
        "SELECT id AS i, CAST(id AS STRING) AS s, id % 2 AS p,"
        " array(id) AS l FROM range(4)"
    ).write.partitionBy("p").parquet(written)
    for path in (str(hive), written):
        df = load_table(spark, path)
        assert df.schema == spark.read.parquet(path).schema
        assert sorted(df.collect()) == sorted(spark.read.parquet(path).collect())


def test_engine_reads_start_no_job(spark, tmp_path):
    base = VersionedTable(spark, str(tmp_path / "base"))
    base.append(spark.sql("SELECT id, id * 2 AS v FROM range(4)"))
    base.append(spark.sql("SELECT id, id * 2 AS v FROM range(4, 6)"))
    full = DynamicTable(spark, base, str(tmp_path / "full"), lambda df: df)
    inc = DynamicTable(
        spark, base, str(tmp_path / "inc"), lambda df: df, mode="incremental"
    )
    full.refresh()
    inc.refresh()
    sc = spark.sparkContext
    sc.setJobGroup("read-guard", "engine reads of versioned tables")
    try:
        dfs = [base.read(), base.read(1), base.changes(1), full.read(), inc.read()]
        assert _jobs(spark, "read-guard") == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [df.count() for df in dfs] == [6, 4, 2, 6, 6]


def test_copy_into_starts_only_its_insert_jobs(ctx, spark, tmp_path):
    """A parquet COPY reads through ``load_table`` and looks its target
    up in the catalog, so it starts the jobs of its write and no more."""
    paths = []
    for i in range(3):
        paths.append(str(tmp_path / f"batch{i}.parquet"))
        pq.write_table(pa.table({"k": [i, i + 10], "v": [1.5, 2.5]}), paths[-1])
    table = "copy_jobs_test"
    sc = spark.sparkContext
    try:
        jobs = []
        for i, path in enumerate(paths[:2]):  # creates, then inserts
            sc.setJobGroup(f"copy-guard{i}", "copy_into")
            assert ctx.copy_into(table, [path]) == 1
            jobs.append(_jobs(spark, f"copy-guard{i}"))
        sc.setJobGroup("insert-guard", "the same insert, by hand")
        load_table(spark, paths[2]).write.insertInto(table)
        assert jobs == [_jobs(spark, "insert-guard")] * 2
        assert spark.table(table).count() == 6
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


@pytest.mark.parametrize("ts_type", ["INT96", "TIMESTAMP_MICROS"])
def test_spark_written_file_keeps_spark_types(spark, tmp_path, ts_type):
    ts = datetime.datetime(2024, 1, 1, 0, 0, 1, 5)
    df = spark.sql(
        "SELECT 1 AS i, TIMESTAMP'2024-01-01 00:00:01.000005' AS ts,"
        " CAST('x' AS STRING) AS s, CAST(1.5 AS DECIMAL(10, 2)) AS dec,"
        " array(1, 2) AS l, named_struct('a', 1) AS st"
    )
    path = str(tmp_path / "spark_written")
    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key)
    spark.conf.set(key, ts_type)
    try:
        df.coalesce(1).write.parquet(path)
    finally:
        spark.conf.set(key, before)
    (part,) = glob.glob(os.path.join(path, "part-*.parquet"))
    inferred = spark.read.parquet(part).schema  # from the row metadata
    assert _footer_schema(spark, part) == (inferred, set())
    loaded = load_table(spark, part)
    assert loaded.schema == inferred
    assert loaded.first()["ts"] == ts


def test_get_spark_builder_confs(spark, monkeypatch):
    """get_spark states each conf once; the set it builds is fixed."""
    built = {}

    def capture(builder):
        built.update(builder._options)
        return spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    assert get_spark("confs") is spark
    cpus = _default_parallelism()
    mib = 1024 * 1024
    assert built == {
        "spark.app.name": "confs",
        "spark.master": f"local[{cpus}]",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", str(8 * cpus)),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cteRecursionLevelLimit": "100000",
        "spark.sql.cteRecursionRowLimit": "10000000",
        "spark.sql.cbo.joinReorder.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.storeAssignmentPolicy": "LEGACY",
        "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
        "spark.sql.autoBroadcastJoinThreshold": str(4 * mib),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * mib),
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(64 * mib),
        "spark.sql.variable.substitute": "false",
        CODEGEN_CACHE_CONF: str(CODEGEN_CACHE_ENTRIES),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        "spark.executorEnv.PYTHONPATH": REPO,
    }


def test_python_workers_import_the_engine(tmp_path):
    """Helper UDFs are pickled by module reference, so a program that puts
    the package on sys.path by hand and runs from another directory must
    still leave its Python workers able to import it."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from databend_spark.session import SessionContext, get_spark\n"
        "ctx = SessionContext(get_spark('worker-import'))\n"
        # split_part runs as the __split_part Python helper
        "print(ctx.sql(\"SELECT split_part('a,b,c', ',', 2) AS v\").first()['v'])\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split() == ["b"]


@pytest.mark.skipif(not os.path.isdir(SF001), reason=f"{SF001} missing")
def test_footer_statics_are_looked_up_once_per_session(spark, monkeypatch):
    """The footer reader's four JVM statics are looked up once per
    session and kept in its state, so the second load_table sends four
    fewer py4j commands than the first. (A warm-up load pays the rest of
    the session's first-use set-up; the statics are then dropped.)"""
    session = spark.newSession()
    load_table(session, os.path.join(SF001, "nation.parquet"))
    session_state(session).footer_statics = None
    client = session._jvm._gateway_client
    send, sent = client.send_command, []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):  # not a py4j garbage collection
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    counts = []
    for name in ("nation", "region"):
        sent.clear()
        load_table(session, os.path.join(SF001, f"{name}.parquet"))
        counts.append(len(sent))
    assert counts[0] - counts[1] == 4
