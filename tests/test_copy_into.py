"""COPY INTO through the SLT runner: loads (CSV, TSV, NDJSON, parquet),
the ON_ERROR policies, file selection and history, PURGE, a COPY inside
a rolled-back transaction, and unloads with a reload of what they
wrote. The expected results were recorded before the COPY code moved to
``sources/copy_into.py`` and pin its behaviour."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest


def _stage_files(root) -> None:
    files = {
        "csv/a.csv": "1,alice\n2,bob\n",
        "csv/b.csv": "3,carol\n",
        "tsv/a.tsv": "1\talice\n2\tbob\n",
        "ndjson/a.ndjson": '{"id":1,"name":"alice"}\n{"id":2,"name":"bob"}\n',
        # bad rows spread over three files: 1 + 0 + 2 errors
        "err/e1.csv": "1\nx\n3\n",
        "err/e2.csv": "4\n5\n6\n",
        "err/e3.csv": "7\ny\nz\n10\n",
        "sel/m1.csv": "1\n",
        "sel/m2.csv": "2\n",
        "sel/m3.csv": "3\n",
        "sel/n1.csv": "10\n",
        "purge/p1.csv": "1\n",
        "purge/p2.csv": "2\n",
        "txn/t1.csv": "5\n",
        # a transform COPY decodes a.parquet and then fails on this one
        "tr/b.parquet": "not parquet\n",
    }
    for rel, body in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(body)
    os.makedirs(os.path.join(root, "parquet"))
    for rel in ("parquet/a.parquet", "tr/a.parquet"):
        pq.write_table(
            pa.table({
                "id": pa.array([1, 2], pa.int32()),
                "name": ["alice", "bob"],
            }),
            os.path.join(root, rel),
        )


_LOADS = """
statement ok
CREATE STAGE cp_s url='fs://{root}/'

statement ok
CREATE TABLE cp_csv (id INT, name VARCHAR, score INT DEFAULT 7)

query TIITI
COPY INTO cp_csv(id, name) FROM @cp_s/csv/ FILE_FORMAT = (type = CSV)
----
csv/a.csv 2 0 NULL NULL
csv/b.csv 1 0 NULL NULL

query ITI
SELECT id, name, score FROM cp_csv ORDER BY id
----
1 alice 7
2 bob 7
3 carol 7

statement ok
CREATE TABLE cp_tsv (id INT, name VARCHAR, score INT DEFAULT 7)

query TIITI
COPY INTO cp_tsv(id, name) FROM @cp_s/tsv/ FILE_FORMAT = (type = TSV)
----
tsv/a.tsv 2 0 NULL NULL

query ITI
SELECT id, name, score FROM cp_tsv ORDER BY id
----
1 alice 7
2 bob 7

statement ok
CREATE TABLE cp_nd (id INT, name VARCHAR, score INT DEFAULT 7)

query TIITI
COPY INTO cp_nd(id, name) FROM @cp_s/ndjson/ FILE_FORMAT = (type = NDJSON)
----
ndjson/a.ndjson 2 0 NULL NULL

query ITI
SELECT id, name, score FROM cp_nd ORDER BY id
----
1 alice 7
2 bob 7

statement ok
CREATE TABLE cp_pq (id INT, name VARCHAR, score INT DEFAULT 7)

query TIITI
COPY INTO cp_pq(id, name) FROM @cp_s/parquet/ FILE_FORMAT = (type = PARQUET)
----
parquet/a.parquet 2 0 NULL NULL

query ITI
SELECT id, name, score FROM cp_pq ORDER BY id
----
1 alice 7
2 bob 7

statement ok
CREATE TABLE cp_pq_all (id INT, name VARCHAR)

query TIITI
COPY INTO cp_pq_all FROM @cp_s/parquet/ FILE_FORMAT = (type = PARQUET)
----
parquet/a.parquet 2 0 NULL NULL

query IT
SELECT id, name FROM cp_pq_all ORDER BY id
----
1 alice
2 bob
"""

_ON_ERROR = """
statement ok
CREATE STAGE cp_s url='fs://{root}/'

statement ok
CREATE TABLE cp_abort (a INT)

statement error 1046
COPY INTO cp_abort FROM @cp_s/err/ FILE_FORMAT = (type = CSV) ON_ERROR = abort

query I
SELECT count(*) FROM cp_abort
----
0

statement ok
CREATE TABLE cp_cont (a INT)

query TIITI
COPY INTO cp_cont FROM @cp_s/err/ FILE_FORMAT = (type = CSV) ON_ERROR = continue
----
err/e1.csv 2 1 Invalid value 'x' for column 0 (a Int32 NULL): invalid text for number 2
err/e2.csv 3 0 NULL NULL
err/e3.csv 2 2 Invalid value 'y' for column 0 (a Int32 NULL): invalid text for number 2

query II
SELECT count(*), sum(a) FROM cp_cont
----
7 36

statement ok
CREATE TABLE cp_abort2 (a INT)

statement error 1046
COPY INTO cp_abort2 FROM @cp_s/err/ FILE_FORMAT = (type = CSV) ON_ERROR = abort_2

statement ok
CREATE TABLE cp_abort4 (a INT)

query TIITI
COPY INTO cp_abort4 FROM @cp_s/err/ FILE_FORMAT = (type = CSV) ON_ERROR = abort_4
----
err/e1.csv 2 0 NULL NULL
err/e2.csv 3 0 NULL NULL
err/e3.csv 2 0 NULL NULL

query II
SELECT count(*), sum(a) FROM cp_abort4
----
7 36

statement ok
CREATE TABLE cp_skip (a INT)

query TIITI
COPY INTO cp_skip FROM @cp_s/err/ FILE_FORMAT = (type = CSV) ON_ERROR = skip_file
----
err/e1.csv 0 1 Invalid value 'x' for column 0 (a Int32 NULL): invalid text for number 2
err/e2.csv 3 0 NULL NULL
err/e3.csv 0 2 Invalid value 'y' for column 0 (a Int32 NULL): invalid text for number 2

query II
SELECT count(*), sum(a) FROM cp_skip
----
3 15

statement ok
CREATE TABLE cp_skip2 (a INT)

query TIITI
COPY INTO cp_skip2 FROM @cp_s/err/ FILE_FORMAT = (type = CSV) ON_ERROR = skip_file_2
----
err/e1.csv 2 1 Invalid value 'x' for column 0 (a Int32 NULL): invalid text for number 2
err/e2.csv 3 0 NULL NULL
err/e3.csv 0 2 Invalid value 'y' for column 0 (a Int32 NULL): invalid text for number 2

query II
SELECT count(*), sum(a) FROM cp_skip2
----
5 19

statement ok
CREATE TABLE cp_failed (a INT)

query TIITI
COPY INTO cp_failed FROM @cp_s/err/ FILE_FORMAT = (type = CSV) ON_ERROR = continue RETURN_FAILED_ONLY = TRUE
----
err/e1.csv 2 1 Invalid value 'x' for column 0 (a Int32 NULL): invalid text for number 2
err/e3.csv 2 2 Invalid value 'y' for column 0 (a Int32 NULL): invalid text for number 2
"""

_SELECTION = """
statement ok
CREATE STAGE cp_s url='fs://{root}/'

statement ok
CREATE TABLE cp_hist (id INT, name VARCHAR)

query TIITI
COPY INTO cp_hist FROM @cp_s/csv/ FILE_FORMAT = (type = CSV)
----
csv/a.csv 2 0 NULL NULL
csv/b.csv 1 0 NULL NULL

query TIITI
COPY INTO cp_hist FROM @cp_s/csv/ FILE_FORMAT = (type = CSV)
----

query TIITI
COPY INTO cp_hist FROM @cp_s/csv/ FILE_FORMAT = (type = CSV) FORCE = TRUE
----
csv/a.csv 2 0 NULL NULL
csv/b.csv 1 0 NULL NULL

query I
SELECT count(*) FROM cp_hist
----
6

statement ok
CREATE TABLE cp_files (a INT)

query TIITI
COPY INTO cp_files FROM @cp_s/sel/ FILES = ('m1.csv', 'm3.csv') FILE_FORMAT = (type = CSV)
----
sel/m1.csv 1 0 NULL NULL
sel/m3.csv 1 0 NULL NULL

query TIITI
COPY INTO cp_files FROM @cp_s/sel/ PATTERN = 'm.*[.]csv' FILE_FORMAT = (type = CSV)
----
sel/m2.csv 1 0 NULL NULL

query TIITI
COPY INTO cp_files FROM @cp_s/sel/ FILE_FORMAT = (type = CSV) MAX_FILES = 2 FORCE = TRUE
----
sel/m1.csv 1 0 NULL NULL
sel/m2.csv 1 0 NULL NULL

query II
SELECT count(*), sum(a) FROM cp_files
----
5 9

statement ok
CREATE TABLE cp_purge (a INT)

query TIITI
COPY INTO cp_purge FROM @cp_s/purge/ FILE_FORMAT = (type = CSV) PURGE = TRUE
----
purge/p1.csv 1 0 NULL NULL
purge/p2.csv 1 0 NULL NULL

query TIITT
LIST @cp_s/purge/
----

query I
SELECT sum(a) FROM cp_purge
----
3

statement ok
CREATE TABLE cp_txn (a INT)

statement ok
BEGIN

query TIITI
COPY INTO cp_txn FROM @cp_s/txn/ FILE_FORMAT = (type = CSV)
----
txn/t1.csv 1 0 NULL NULL

query I
SELECT count(*) FROM cp_txn
----
1

statement ok
ROLLBACK

query I
SELECT count(*) FROM cp_txn
----
0
"""

_UNLOADS = """
statement ok
CREATE STAGE cp_s url='fs://{root}/'

statement ok
CREATE TABLE cp_src (id INT, name VARCHAR)

statement ok
INSERT INTO cp_src VALUES (1, 'alice'), (2, 'bob'), (3, 'carol'), (4, 'dave')

query III
COPY INTO @cp_s/u_csv/ FROM (SELECT * FROM cp_src ORDER BY id) FILE_FORMAT = (type = CSV) SINGLE = TRUE
----
4 37 37

query TII
COPY INTO @cp_s/u_nd/ FROM (SELECT * FROM cp_src ORDER BY id) FILE_FORMAT = (type = NDJSON) SINGLE = TRUE DETAILED_OUTPUT = TRUE
----
u_nd/data_00000000000000000000000000000002_0000_00000000.ndjson 93 4

statement ok
COPY INTO @cp_s/u_pq/ FROM cp_src FILE_FORMAT = (type = PARQUET)

query III
COPY INTO @cp_s/u_zero/ FROM (SELECT * FROM cp_src WHERE id > 100) FILE_FORMAT = (type = CSV)
----
0 0 0

query TIITT
LIST @cp_s/u_zero/
----

query III
COPY INTO @cp_s/u_max/ FROM (SELECT * FROM cp_src ORDER BY id) FILE_FORMAT = (type = CSV) MAX_FILE_SIZE = 1
----
4 37 37

query IT
SELECT $1, $2 FROM @cp_s/u_max/ ORDER BY metadata$filename, metadata$file_row_number
----
1 alice
2 bob
3 carol
4 dave

query I
SELECT count(DISTINCT metadata$filename) FROM @cp_s/u_max/
----
4

query III
COPY INTO @cp_s/u_one/x.csv FROM cp_src FILE_FORMAT = (type = CSV) SINGLE = TRUE
----
4 37 37

statement error 1006
COPY INTO @cp_s/u_one/x.csv FROM cp_src FILE_FORMAT = (type = CSV) SINGLE = TRUE

query III
COPY INTO @cp_s/u_one/x.csv FROM (SELECT * FROM cp_src WHERE id < 3) FILE_FORMAT = (type = CSV) SINGLE = TRUE OVERWRITE = TRUE
----
2 18 18

statement ok
CREATE TABLE cp_back (id INT, name VARCHAR)

query TIITI
COPY INTO cp_back FROM @cp_s/u_csv/ FILE_FORMAT = (type = CSV)
----
u_csv/data_00000000000000000000000000000001_0000_00000000.csv 4 0 NULL NULL

statement ok
COPY INTO cp_back FROM @cp_s/u_nd/ FILE_FORMAT = (type = NDJSON)

statement ok
COPY INTO cp_back FROM @cp_s/u_pq/ FILE_FORMAT = (type = PARQUET)

statement ok
COPY INTO cp_back FROM @cp_s/u_one/ FILE_FORMAT = (type = CSV)

query ITI
SELECT id, name, count(*) FROM cp_back GROUP BY id, name ORDER BY id
----
1 alice 4
2 bob 4
3 carol 3
4 dave 3
"""


@pytest.mark.parametrize(
    "name, text",
    [("loads", _LOADS), ("on_error", _ON_ERROR), ("selection", _SELECTION),
     ("unloads", _UNLOADS)],
)
def test_copy_slt(spark, sf_dir, tmp_path, name, text):
    _run_slt(spark, sf_dir, tmp_path, name, text)


def _run_slt(spark, sf_dir, tmp_path, name, text):
    from databend_spark.session import register_tables
    from databend_spark.testkit import run_slt_file

    root = tmp_path / "stage"
    _stage_files(str(root))
    slt = tmp_path / f"copy_{name}.test"
    slt.write_text(text.format(root=root))
    try:
        rep = run_slt_file(spark, str(slt))
    finally:  # the runner's isolation drops the session's temp views
        register_tables(spark, sf_dir)
    assert rep.failed == 0, rep.failures
    assert rep.passed == text.count("\nstatement ") + text.count("\nquery ")


@pytest.mark.parametrize(
    "on_error, message",
    [
        ("abort", "[1046] error happens after fetched 2 rows: Invalid value"
         " 'x' for column 0 (a Int32 NULL): invalid text for number\n"
         "at file 'err/e1.csv', line 2"),
        ("abort_2", "[1046] abort after 2 errors! the last error: Invalid"
         " value 'y' for column 0 (a Int32 NULL): invalid text for number\n"
         "at file 'err/e3.csv', line 2"),
        ("abort_3", "[1046] abort after 3 errors! the last error: Invalid"
         " value 'z' for column 0 (a Int32 NULL): invalid text for number\n"
         "at file 'err/e3.csv', line 3"),
    ],
)
def test_copy_abort_messages(spark, tmp_path, on_error, message):
    from databend_spark.testkit.stage_shim import StageManager

    root = tmp_path / "stage"
    _stage_files(str(root))
    spark.sql("DROP TABLE IF EXISTS cp_msg")
    spark.sql("CREATE TABLE cp_msg (a INT) USING parquet")
    try:
        mgr = StageManager(
            spark,
            table_info=lambda t: (spark.table(t).schema.fields, {}, {}, {}),
        )
        mgr.try_handle(f"CREATE STAGE cp_m url='fs://{root}/'", spark.sql)
        with pytest.raises(Exception) as err:
            mgr.try_handle(
                "COPY INTO cp_msg FROM @cp_m/err/ FILE_FORMAT = (type = CSV)"
                f" ON_ERROR = {on_error}",
                spark.sql,
            )
        assert str(err.value) == message
    finally:
        spark.sql("DROP TABLE IF EXISTS cp_msg")


_ATOMIC_AND_TXN = """
statement ok
CREATE STAGE cp_s url='fs://{root}/'

statement ok
CREATE TABLE cp_atomic (a INT)

statement error 1046
COPY INTO cp_atomic FROM @cp_s/err/ FILE_FORMAT = (type = CSV) ON_ERROR = abort_2

query I
SELECT count(*) FROM cp_atomic
----
0

query TIITI
COPY INTO cp_atomic FROM @cp_s/err/ FILE_FORMAT = (type = CSV) ON_ERROR = continue
----
err/e1.csv 2 1 Invalid value 'x' for column 0 (a Int32 NULL): invalid text for number 2
err/e2.csv 3 0 NULL NULL
err/e3.csv 2 2 Invalid value 'y' for column 0 (a Int32 NULL): invalid text for number 2

statement ok
CREATE TABLE cp_txn (a INT)

statement ok
BEGIN

query TIITI
COPY INTO cp_txn FROM @cp_s/purge/ FILE_FORMAT = (type = CSV) PURGE = TRUE
----
purge/p1.csv 1 0 NULL NULL
purge/p2.csv 1 0 NULL NULL

query I
SELECT count(*) FROM @cp_s/purge/
----
2

statement ok
ROLLBACK

query TIITI
COPY INTO cp_txn FROM @cp_s/purge/ FILE_FORMAT = (type = CSV)
----
purge/p1.csv 1 0 NULL NULL
purge/p2.csv 1 0 NULL NULL

statement ok
BEGIN

query TIITI
COPY INTO cp_txn FROM @cp_s/purge/ FILE_FORMAT = (type = CSV) PURGE = TRUE FORCE = TRUE
----
purge/p1.csv 1 0 NULL NULL
purge/p2.csv 1 0 NULL NULL

statement ok
COMMIT

query TIITT
LIST @cp_s/purge/
----

query II
SELECT count(*), sum(a) FROM cp_txn
----
4 6

statement ok
CREATE TABLE cp_txn_later (a INT)

statement ok
BEGIN

query TIITI
COPY INTO cp_txn_later FROM @cp_s/txn/ FILE_FORMAT = (type = CSV)
----
txn/t1.csv 1 0 NULL NULL

statement ok
COMMIT

statement ok
BEGIN

statement ok
ROLLBACK

query TIITI
COPY INTO cp_txn_later FROM @cp_s/txn/ FILE_FORMAT = (type = CSV)
----

query I
SELECT count(*) FROM cp_txn_later
----
1
"""


def test_copy_is_atomic_and_follows_the_transaction(spark, sf_dir, tmp_path):
    """An aborted COPY writes nothing and records no history; inside a
    transaction ROLLBACK forgets the loaded files and PURGE waits for
    COMMIT."""
    _run_slt(spark, sf_dir, tmp_path, "atomic_txn", _ATOMIC_AND_TXN)


_TRANSFORM_FAILS = """
statement ok
CREATE STAGE cp_s url='fs://{root}/'

statement ok
CREATE TABLE cp_tr (id INT)

statement error
COPY INTO cp_tr FROM (SELECT id FROM @cp_s/tr/) FILE_FORMAT = (type = PARQUET)

query TIITI
COPY INTO cp_tr FROM (SELECT id FROM @cp_s/tr/) FILE_FORMAT = (type = PARQUET) FILES = ('a.parquet')
----

query I
SELECT count(*) FROM cp_tr
----
2
"""


def test_transform_copy_records_each_file_as_it_loads(spark, sf_dir, tmp_path):
    """A transform COPY inserts file by file: when a later file fails,
    the files already inserted are in the history and do not load
    again."""
    _run_slt(spark, sf_dir, tmp_path, "transform_fails", _TRANSFORM_FAILS)


def _jobs_and_decode_stages(spark, group: str) -> tuple[int, list[int]]:
    """Jobs of ``group`` and the task counts of its stages that ran the
    decoder (a stage that reads the decoded rows from the cache shows the
    decoder in its lineage, next to the cache scan)."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    decode = []
    for job in jobs:
        for stage in tracker.getJobInfo(job).stageIds:
            names, todo = [], [store.operationGraphForStage(stage).rootCluster()]
            while todo:
                cluster = todo.pop()
                names.append(cluster.name())
                it = cluster.childClusters().iterator()
                while it.hasNext():
                    todo.append(it.next())
            if "MapInPandas" in names and "InMemoryTableScan" not in names:
                decode.append(tracker.getStageInfo(stage).numTasks)
    return len(jobs), decode


@pytest.fixture()
def job_group(spark):
    sc = spark.sparkContext
    yield sc.setJobGroup
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def test_copy_decodes_each_file_in_its_own_task(ctx, spark, tmp_path, job_group):
    files = []
    for i in range(6):
        files.append(tmp_path / f"f{i}.csv")
        files[-1].write_text(f"{i},x\n{i + 10},y\n")
    table = "cp_six"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} (a INT, b STRING) USING parquet")
    try:
        job_group("cp-six", "copy_into")
        assert ctx.copy_into(table, [str(f) for f in files], "csv") == 6
        assert _jobs_and_decode_stages(spark, "cp-six")[1] == [6]
        assert spark.table(table).count() == 12
        # one output file per source file
        assert len(spark.table(table).inputFiles()) == 6
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_parquet_copy_into_is_one_job(ctx, spark, tmp_path, job_group):
    path = str(tmp_path / "batch.parquet")
    pq.write_table(pa.table({"k": [1, 2], "v": [1.5, 2.5]}), path)
    table = "cp_one_job"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        job_group("cp-one-job", "copy_into")
        assert ctx.copy_into(table, [path]) == 1
        assert _jobs_and_decode_stages(spark, "cp-one-job") == (1, [])
        # COPY-only options do not change how a file decodes: still one
        # job, and a missing table is still created
        spark.sql(f"DROP TABLE {table}")
        job_group("cp-one-job-opts", "copy_into")
        assert ctx.copy_into(table, [path], force=True, purge=True) == 1
        assert _jobs_and_decode_stages(spark, "cp-one-job-opts") == (1, [])
        assert spark.table(table).count() == 2
        assert not os.path.exists(path)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_session_copy_into_takes_copy_and_format_options(ctx, spark, tmp_path):
    """``SessionContext.copy_into`` takes the statement's option names:
    FILE_FORMAT options decode as Databend does, COPY options pick the
    files and the ON_ERROR policy."""
    (tmp_path / "a.csv").write_text("id|name\n1|x\n2|y\n")
    (tmp_path / "b.csv").write_text("id|name\nz|w\n3|v\n")
    (tmp_path / "c.txt").write_text("id|name\n9|q\n")
    table = "cp_opts"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} (id INT, name STRING) USING parquet")
    opts = {"skip_header": 1, "field_delimiter": "|", "pattern": r".*\.csv"}
    try:
        with pytest.raises(RuntimeError, match=r"\[1046\] error happens"):
            ctx.copy_into(table, [str(tmp_path)], "csv", **opts)
        assert spark.table(table).count() == 0
        assert ctx.copy_into(table, [str(tmp_path)], "csv", on_error="continue", **opts) == 1
        got = sorted(tuple(r) for r in spark.table(table).collect())
        assert got == [(1, "x"), (2, "y"), (3, "v")]
        assert ctx.copy_into(table, [str(tmp_path)], "csv", on_error="continue", **opts) == 0
        # a file added to a loaded directory is the only one loaded next
        (tmp_path / "d.csv").write_text("id|name\n4|u\n")
        assert ctx.copy_into(table, [str(tmp_path)], "csv", on_error="continue", **opts) == 1
        assert spark.table(table).count() == 4
        with pytest.raises(ValueError, match="Unknown file format option header"):
            ctx.copy_into(table, [str(tmp_path)], "csv", header="true")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_session_copy_into_lists_files_like_the_statement(ctx, spark, tmp_path):
    """``ctx.copy_into`` and the statement share one lister: writer
    markers are left out but other ``_`` files load, a FILES entry that
    is missing raises [1006], PATTERN is ignored under FILES, and a path
    that is not a directory is a name prefix."""
    for name, body in [("a.csv", "1\n"), ("_b.csv", "2\n"), ("_SUCCESS", ""),
                       (".a.csv.crc", "x\n"), ("a.csv.1", "3\n")]:
        (tmp_path / name).write_text(body)
    table = "cp_list"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"CREATE TABLE {table} (a INT) USING parquet")

    def loaded():
        return sorted(r.a for r in spark.table(table).collect())

    try:
        with pytest.raises(ValueError, match=r"\[1006\] file nope.csv not found"):
            ctx.copy_into(table, [str(tmp_path)], "csv", files=["nope.csv"])
        ctx.copy_into(table, [str(tmp_path)], "csv", files=["a.csv"], pattern="none")
        assert loaded() == [1]
        ctx.copy_into(table, [str(tmp_path / "a.csv")], "csv")
        assert loaded() == [1, 3]
        ctx.copy_into(table, [str(tmp_path)], "csv")
        assert loaded() == [1, 2, 3]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_unload_never_collects_its_source(spark, tmp_path, monkeypatch):
    from pyspark.sql import DataFrame

    from databend_spark.sources.copy_into import CopyOptions, copy_into_location
    from databend_spark.sources.stage_format import resolve_format

    def refuse(*_a, **_k):
        raise AssertionError("the unload source reached the driver")

    src = spark.range(0, 300, 1, 3).selectExpr("id", "CAST(id AS STRING) AS s")
    with monkeypatch.context() as m:
        for name in ("collect", "toLocalIterator", "toPandas"):
            m.setattr(DataFrame, name, refuse)
        res = copy_into_location(
            src.orderBy("id"), str(tmp_path), resolve_format({"type": "csv"}),
            CopyOptions(max_file_size=500, detailed_output=True),
            qid="q", rel_root=str(tmp_path),
        )
    files = res.collect()
    assert sum(f.row_count for f in files) == 300
    assert len(files) > 3
    # part files numbered in partition order keep the global sort order
    ids = []
    for f in sorted(files):
        ids += [int(line.split(",")[0]) for line in (tmp_path / f.file_name).read_text().split()]
    assert ids == list(range(300))


def test_parquet_copy_into_loads_only_new_files_of_a_directory(ctx, spark, tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), str(d / "a.parquet"))
    table = "cp_dir"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        assert ctx.copy_into(table, [str(d)]) == 1
        assert ctx.copy_into(table, [str(d)]) == 0
        pq.write_table(pa.table({"k": [3]}), str(d / "b.parquet"))
        assert ctx.copy_into(table, [str(d)]) == 1
        assert sorted(r.k for r in spark.table(table).collect()) == [1, 2, 3]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
