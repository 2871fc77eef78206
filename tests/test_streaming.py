"""Incremental layer (streams/tasks/dynamic tables/time travel) and
Structured Streaming tests."""

import os
import time
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def vt(spark, tmp_path):
    from databend_spark.streaming import VersionedTable

    return VersionedTable(spark, str(tmp_path / "t"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, v string")


def test_versioned_table_time_travel(spark, vt):
    v1 = vt.append(_df(spark, [(1, "a")]))
    t_between = time.time()
    v2 = vt.append(_df(spark, [(2, "b"), (3, "c")]))
    assert (v1, v2) == (1, 2)
    assert vt.read().count() == 3
    assert vt.read(version=1).count() == 1          # AT (SNAPSHOT)
    assert vt.read_at_timestamp(t_between).count() == 1  # AT (TIMESTAMP)
    assert {r.id for r in vt.changes(1).collect()} == {2, 3}  # CHANGES


def test_standard_mode_changes_emit_delete_rows(spark, vt):
    """Standard-mode CHANGES across an overwrite commit: removed rows
    come back as change$action=DELETE, added rows as INSERT, unchanged
    rows are suppressed (reference changes.rs standard streams)."""
    from databend_spark.streaming import Stream

    vt.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    s = Stream(vt, "std1", at_version=1, mode="standard")
    # overwrite: drop id=2, keep 1/3, add 4 — a mutation commit
    vt.overwrite(_df(spark, [(1, "a"), (3, "c"), (4, "d")]))

    # append-only stream over the same range must refuse
    s_ap = Stream(vt, "ap1", at_version=1)
    with pytest.raises(ValueError, match="overwrite"):
        s_ap.read().collect()

    rows = {(r.id, r["change$action"]) for r in s.read().collect()}
    assert rows == {(2, "DELETE"), (4, "INSERT")}
    # consuming advances the offset; a later append shows as INSERT only
    s.consume(lambda df: df.count())
    vt.append(_df(spark, [(5, "e")]))
    rows2 = {(r.id, r["change$action"]) for r in s.read().collect()}
    assert rows2 == {(5, "INSERT")}
    assert all(r["change$row_id"] for r in s.read().collect())


def test_stream_transactional_consumption(spark, vt):
    from databend_spark.streaming import Stream

    s = Stream(vt, "s1")           # created on empty table → tracks all
    vt.append(_df(spark, [(1, "a")]))
    assert s.has_data()
    seen = []
    s.consume(lambda df: seen.append(df.count()))
    assert seen == [1]
    assert not s.has_data()  # offset advanced

    # failing consumer must NOT advance the offset
    vt.append(_df(spark, [(2, "b")]))
    with pytest.raises(RuntimeError):
        s.consume(lambda df: (_ for _ in ()).throw(RuntimeError("boom")))
    assert s.has_data()
    s.consume(lambda df: seen.append(df.count()))
    assert seen == [1, 1]


def test_task_runner_dag_and_when(spark, vt):
    from databend_spark.streaming import Stream, Task, TaskRunner

    s = Stream(vt, "tsk")
    vt.append(_df(spark, [(1, "a")]))
    ran = []
    r = TaskRunner()
    r.add(Task("load", fn=lambda: ran.append("load"), when=s.has_data))
    r.add(Task("transform", fn=lambda: ran.append("transform"), after=["load"]))
    assert r.run_cycle() == ["load", "transform"]
    # second cycle: stream not consumed → when still true; consume, then idle
    s.consume(lambda df: None)
    ran.clear()
    executed = TaskRunner()
    executed.add(Task("load", fn=lambda: ran.append("load"), when=s.has_data))
    assert executed.run_cycle() == []


def test_task_cycle_detection():
    from databend_spark.streaming import Task, TaskRunner

    r = TaskRunner()
    r.add(Task("a", fn=lambda: None, after=["b"]))
    r.add(Task("b", fn=lambda: None, after=["a"]))
    with pytest.raises(RuntimeError, match="cycle"):
        r.run_cycle()


def test_dynamic_table_incremental(spark, vt, tmp_path):
    from databend_spark.streaming import DynamicTable

    dyn = DynamicTable(
        spark,
        vt,
        str(tmp_path / "mv"),
        query=lambda df: df.select("id", F.upper("v").alias("V")),
        mode="incremental",
    )
    vt.append(_df(spark, [(1, "a")]))
    assert dyn.refresh()
    assert {r.V for r in dyn.read().collect()} == {"A"}
    vt.append(_df(spark, [(2, "b")]))
    assert dyn.refresh()
    assert {r.V for r in dyn.read().collect()} == {"A", "B"}
    assert not dyn.refresh()  # nothing new → no work


def test_dynamic_table_full_recompute(spark, vt, tmp_path):
    from databend_spark.streaming import DynamicTable

    dyn = DynamicTable(
        spark,
        vt,
        str(tmp_path / "mv2"),
        query=lambda df: df.groupBy().agg(F.count("*").alias("n")),
        mode="full",
    )
    vt.append(_df(spark, [(1, "a"), (2, "b")]))
    dyn.refresh()
    assert dyn.read().collect()[0].n == 2
    vt.append(_df(spark, [(3, "c")]))
    dyn.refresh()
    assert dyn.read().collect()[0].n == 3


def test_structured_streaming_windowed(spark, sf_dir, tmp_path):
    from databend_spark.session import load_table
    from databend_spark.streaming.structured import (
        read_event_stream,
        run_to_memory,
        windowed_counts,
    )

    # stage a few micro-batch files from the driver events table
    ev = load_table(spark, f"{sf_dir}/events.parquet")
    src = str(tmp_path / "stream_src")
    ev.limit(500).coalesce(1).write.parquet(src)

    stream = read_event_stream(spark, src)
    assert stream.isStreaming
    run_to_memory(windowed_counts(stream, window="1 hour"), "win_out")
    out = spark.sql("SELECT * FROM win_out")
    assert out.count() > 0
    row = out.orderBy("window_start", "event_type").first()
    assert row.n >= 1 and row.window_end > row.window_start


def test_structured_streaming_session_window(spark, sf_dir, tmp_path):
    from databend_spark.session import load_table
    from databend_spark.streaming.structured import (
        read_event_stream,
        run_to_memory,
        sessionized,
    )

    ev = load_table(spark, f"{sf_dir}/events.parquet")
    src = str(tmp_path / "sess_src")
    ev.limit(300).coalesce(1).write.parquet(src)
    run_to_memory(sessionized(read_event_stream(spark, src)), "sess_out")
    out = spark.sql("SELECT * FROM sess_out")
    assert out.count() > 0
    assert out.filter(F.col("n_events") < 1).count() == 0


def test_stream_tracks_from_creation_point(spark, vt):
    """CREATE STREAM semantics: history before creation is not replayed."""
    from databend_spark.streaming import Stream

    vt.append(_df(spark, [(1, "old")]))
    s = Stream(vt, "fresh")
    assert not s.has_data()
    vt.append(_df(spark, [(2, "new")]))
    seen = []
    s.consume(lambda df: seen.append({r.id for r in df.collect()}))
    assert seen == [{2}]
    # explicit full-history stream
    s0 = Stream(vt, "full", at_version=0)
    assert {r.id for r in s0.read().collect()} == {1, 2}


def test_compact_collapses_append_chain(spark, vt):
    for i in range(4):
        vt.append(_df(spark, [(i, f"r{i}")]))
    assert vt.read().count() == 4
    v = vt.compact()
    assert v == 5
    assert vt.read().count() == 4  # same rows
    # reads now touch only the compacted dir
    log = vt._read_log()
    assert log[-1]["mode"] == "overwrite"
    files = vt.read().inputFiles()
    assert files and all(
        urlparse(f).path.startswith(log[-1]["dir"] + "/") for f in files
    )
    # snapshots table function shows the full chain
    snaps = vt.snapshots()
    assert snaps.count() == 5
    assert [r.mode for r in snaps.orderBy("version").collect()][-1] == "overwrite"
    assert os.path.isdir(log[-1]["dir"])


def test_compact_recluster_sorts_files(spark, vt):
    rows = [(i * 7919 % 100, f"v{i}") for i in range(50)]
    vt.append(_df(spark, rows))
    vt.compact(cluster_by=["id"])
    got = [r.id for r in vt.read().collect()]
    assert sorted(got) == sorted(r[0] for r in rows)


def test_vacuum_frees_superseded_dirs_keeps_head(spark, vt):
    vt.append(_df(spark, [(1, "a")]))
    vt.append(_df(spark, [(2, "b")]))
    old_dirs = [e["dir"] for e in vt._read_log()]
    vt.compact()
    removed = vt.vacuum(retain_last=1)
    assert set(removed) == set(old_dirs)
    for d in old_dirs:
        assert not os.path.exists(d)
    assert vt.read().count() == 2  # head unaffected
    with pytest.raises(Exception):
        vt.read(version=1)  # gc'd snapshot no longer time-travelable


def test_vacuum_append_only_removes_nothing(spark, vt):
    vt.append(_df(spark, [(1, "a")]))
    vt.append(_df(spark, [(2, "b")]))
    assert vt.vacuum(retain_last=1) == []  # every dir still feeds head
    assert vt.read().count() == 2


def test_stateful_user_stats_accumulates_across_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState carries per-user state across micro-batches:
    final counts equal the batch groupBy, proving state survival."""
    import shutil

    from databend_spark.session import load_table
    from databend_spark.streaming.structured import (
        read_event_stream,
        run_to_memory,
        stateful_user_stats,
    )

    events = load_table(spark, os.path.join(sf_dir, "events.parquet")).filter(
        "user_id < 20"
    )
    src = str(tmp_path / "stream_src")
    # two file drops → two micro-batches (maxFilesPerTrigger=1)
    events.filter("event_id % 2 = 0").coalesce(1).write.parquet(src)
    events.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    out = stateful_user_stats(read_event_stream(spark, src))
    run_to_memory(out, "user_stats", output_mode="update")

    # last update per user == full-batch aggregate
    got = {
        r.user_id: r.n_events
        for r in spark.sql(
            "SELECT user_id, max(n_events) AS n_events FROM user_stats "
            "GROUP BY user_id"
        ).collect()
    }
    want = {
        r.user_id: r.n
        for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and len(want) > 0


def test_full_dynamic_table_commits_each_recompute_as_overwrite(
    spark, vt, tmp_path
):
    """A full refresh replaces the target: the target reads as the
    dynamic table does, version k is the k-th recompute, and VACUUM
    frees the superseded recomputes."""
    from databend_spark.streaming import DynamicTable

    dyn = DynamicTable(
        spark,
        vt,
        str(tmp_path / "mv3"),
        query=lambda df: df.groupBy().agg(F.count("*").alias("n")),
        mode="full",
    )
    for i in range(3):
        vt.append(_df(spark, [(i, "x")]))
        assert dyn.refresh()
    assert dyn.target.read().collect() == dyn.read().collect()
    assert [dyn.target.read(k).first().n for k in (1, 2, 3)] == [1, 2, 3]
    superseded = [
        r.dir for r in dyn.target.snapshots().filter("version < 3").collect()
    ]
    assert len(superseded) == 2
    assert sorted(dyn.target.vacuum(retain_last=1)) == sorted(superseded)
    assert dyn.read().first().n == 3


def test_full_dynamic_table_refreshes_after_base_overwrite(spark, vt, tmp_path):
    """A full recompute needs no change range, so a base overwrite (a
    DELETE or UPDATE commit) does not stop the refresh."""
    from databend_spark.streaming import DynamicTable

    dyn = DynamicTable(
        spark,
        vt,
        str(tmp_path / "mv4"),
        query=lambda df: df.groupBy().agg(F.count("*").alias("n")),
        mode="full",
    )
    vt.append(_df(spark, [(1, "a"), (2, "b")]))
    assert dyn.refresh()
    vt.overwrite(_df(spark, [(1, "a")]))
    assert dyn.refresh()
    assert dyn.read().first().n == 1


def test_each_operation_reads_the_log_once(spark, vt, monkeypatch):
    from databend_spark.streaming import VersionedTable

    vt.append(_df(spark, [(1, "a")]))
    vt.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    vt.append(_df(spark, [(3, "c")]))
    calls = []
    read_log = VersionedTable._read_log

    def counting(self):
        calls.append(self.path)
        return read_log(self)

    monkeypatch.setattr(VersionedTable, "_read_log", counting)
    ops = {
        "read": vt.read,
        "changes": lambda: vt.changes(2),
        "changes_standard": lambda: vt.changes_standard(1),
        "vacuum": lambda: vt.vacuum(retain_last=2),  # last: it drops v1
    }
    reads = {}
    for name, op in ops.items():
        calls.clear()
        op()
        reads[name] = len(calls)
    assert reads == dict.fromkeys(ops, 1)


def test_standard_changes_of_appends_load_only_appended_dirs(
    spark, vt, monkeypatch
):
    import databend_spark.streaming.incremental as incremental

    for i in range(3):
        vt.append(_df(spark, [(i, f"r{i}")]))
    dirs = {r.version: r.dir for r in vt.snapshots().collect()}
    loads = []
    load_table = incremental.load_table

    def recording(spark, *paths):
        loads.append(paths)
        return load_table(spark, *paths)

    monkeypatch.setattr(incremental, "load_table", recording)
    df = vt.changes_standard(1)
    assert loads == [(dirs[2], dirs[3])]
    rows = {(r.id, r["change$action"]) for r in df.collect()}
    assert rows == {(1, "INSERT"), (2, "INSERT")}


@pytest.mark.parametrize(
    "retain_last, removed", [(1, [1, 2, 3, 4]), (2, [1, 2, 3, 4]), (3, [1])]
)
def test_vacuum_mixed_chain(spark, vt, retain_last, removed):
    """VACUUM keeps every dir a retained version reads, across appends,
    an overwrite and a compaction."""
    vt.append(_df(spark, [(1, "a")]))  # v1
    vt.overwrite(_df(spark, [(1, "a"), (2, "b")]))  # v2
    vt.append(_df(spark, [(3, "c")]))  # v3
    vt.append(_df(spark, [(4, "d")]))  # v4
    vt.compact()  # v5
    vt.append(_df(spark, [(5, "e")]))  # v6
    dirs = {r.version: r.dir for r in vt.snapshots().collect()}
    retained = range(7 - retain_last, 7)
    counts = {v: vt.read(v).count() for v in retained}
    assert vt.vacuum(retain_last=retain_last) == [dirs[v] for v in removed]
    assert {v for v, d in dirs.items() if not os.path.exists(d)} == set(removed)
    assert {v: vt.read(v).count() for v in retained} == counts


def test_failed_commit_leaves_no_data_dir(spark, vt):
    """A commit whose write fails removes its data dir: no log entry
    names it, so vacuum would never remove it."""
    vt.append(_df(spark, [(1, "a")]))
    before = sorted(os.listdir(vt.path))
    bad = _df(spark, [(2, "b")]).withColumn(
        "v", F.when(F.col("id") > 0, F.expr("raise_error('boom')")).otherwise(F.col("v"))
    )
    with pytest.raises(Exception, match="boom"):
        vt.overwrite(bad)
    assert vt.version == 1
    assert sorted(os.listdir(vt.path)) == before
