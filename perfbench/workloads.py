"""The benchmark's workloads: what one pass runs and how its results are
checked. Each is driven through the engine's public entry points only.

A workload object is bound to a live session by ``bind`` (once per set-up),
runs one op per ``execute`` call and records what it needs to check the
results after the timed window in ``check``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from databend_spark.operators.mutations import delete_from, merge_into, src, update_table
from databend_spark.session import SessionContext
from databend_spark.sqlgen import rewrite_databend_sql
from databend_spark.streaming.incremental import DynamicTable, Stream, VersionedTable
from databend_spark.suite import REGISTRY
from tools.check_oracle import duck_con, normalize, value_hash

from measure import catalyst_phases

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


@dataclass
class OpRecord:
    """Timings of one op. ``construct`` and ``exec`` split the op for query
    ops (builder call, then the action); ``layer`` names where an ingest
    op's whole time goes."""

    construct: float = 0.0
    exec: float = 0.0
    phases: dict = field(default_factory=dict)
    layer: str = ""
    counts: dict = field(default_factory=dict)


class QueryWorkload:
    """Closed-loop passes over suite queries; every result is collected and
    later hashed against the query's DuckDB oracle on the same files."""

    tables: tuple[str, ...] = ()
    ops: tuple[str, ...] = ()
    first: str = ""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.results: dict[str, list] = {name: [] for name in self.ops}

    def bind(self, spark) -> None:
        self.spark = spark
        self.ctx = SessionContext(spark)

    def first_op(self) -> None:
        self._build(self.first).collect()

    def pass_ops(self, rng: random.Random, pass_no: int) -> list[str]:
        order = list(self.ops)
        rng.shuffle(order)
        return order

    def _build(self, name: str):
        raise NotImplementedError

    def rewrite_s(self, name: str) -> float:
        return 0.0

    def execute(self, name: str, traced: bool, timed: bool) -> OpRecord:
        clock = _clock()
        df = self._build(name)
        built = clock()
        rows = [tuple(r) for r in df.collect()]
        done = clock()
        rec = OpRecord(construct=built, exec=done - built)
        if traced:
            rec.phases = catalyst_phases(df)
        if timed:
            self.results[name].append((df.columns, rows))
        return rec

    def check(self) -> dict[str, int]:
        """Failed samples per op: results whose value hash differs from the
        DuckDB oracle's (or, for an op with no exact oracle, from the op's
        own first result)."""
        failed = {}
        for name, samples in self.results.items():
            oracle = REGISTRY[name].oracle
            if oracle is not None:
                want = self._oracle_hash(oracle)
            elif samples:
                want = value_hash(normalize(samples[0][1], samples[0][0]))
            failed[name] = sum(
                value_hash(normalize(rows, cols)) != want for cols, rows in samples
            )
        return failed

    def _oracle_hash(self, oracle: str) -> str:
        """Value hash of the DuckDB oracle's result on the data directory,
        cached next to the data: the tables are fixed, so is the answer."""
        path = os.path.join(self.data_dir, "oracle_hashes.json")
        cache = {}
        if os.path.exists(path):
            with open(path) as f:
                cache = json.load(f)
        key = hashlib.sha256(oracle.encode()).hexdigest()
        if key not in cache:
            con = duck_con(self.data_dir)
            res = con.execute(oracle)
            cols = [d[0] for d in res.description]
            cache[key] = value_hash(normalize(res.fetchall(), cols))
            con.close()
            with open(path + ".tmp", "w") as f:
                json.dump(cache, f)
            os.replace(path + ".tmp", path)
        return cache[key]

    def stored_bytes_per_live_byte(self) -> float:
        # read-only: the tables on disk are exactly their live snapshot
        return 1.0

    def cleanup(self) -> None:
        pass


class OlapSf01(QueryWorkload):
    """SQL text of suite queries submitted through ``SessionContext.sql``.
    All have ``oracle='same'``: one SQL text run by both engines."""

    tables = TPCH_TABLES + ("events",)
    ops = (
        "tpch_q1", "tpch_q3", "tpch_q6", "tpch_q9", "tpch_q18", "hits_q09",
        "tpcds_rank_in_category",
    )
    first = "tpch_q6"

    def _build(self, name: str):
        return self.ctx.sql(REGISTRY[name].oracle)

    def rewrite_s(self, name: str) -> float:
        clock = _clock()
        rewrite_databend_sql(REGISTRY[name].oracle)
        return clock()


class LlmOps(QueryWorkload):
    """DataFrame-API operators through the suite's query builders; no SQL
    text, so ``sqlgen`` is bypassed."""

    tables = ("documents", "embeddings")
    ops = ("llm_dedup_ngram_jaccard", "llm_dedup_minhash_lsh", "llm_ann_ivf_topk")
    first = "llm_ann_ivf_topk"

    def _build(self, name: str):
        return REGISTRY[name].fn(self.spark, self.data_dir)


class IngestMutate:
    """Seeded batches staged as parquet, loaded with ``copy_into`` and
    ``VersionedTable.append``; a ``Stream`` and an incremental
    ``DynamicTable`` follow the append-only landing table, while the
    mutated table ``t`` takes MERGE/UPDATE/DELETE copy-on-write commits and a
    read query. Each pass merges ``half`` new keys and deletes the keys the
    previous pass inserted, so the table size stays level; VACUUM ends every
    pass and keeps ``RETAIN`` versions for time travel.

    A NumPy model of ``t`` replays every executed op; each read and the
    final table are checked against it.
    """

    tables = ("orders",)
    GROUPS = 16
    RETAIN = 2

    def __init__(self, data_dir: str, work_dir: str, seed: int):
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        orders = pq.read_table(
            os.path.join(data_dir, "orders.parquet"),
            columns=["o_orderkey", "o_totalprice"],
        )
        # the generator numbers orders 0..n-1, so a key indexes the model
        self.n0 = orders.num_rows
        self.base_vals = np.round(orders["o_totalprice"].to_numpy() * 100).astype(
            np.int64
        )
        self.half = max(1, self.n0 // 100)
        self.stage = os.path.join(work_dir, "stage")
        os.makedirs(self.stage, exist_ok=True)
        self.setups = 0
        self.failed: dict[str, int] = {}

    # -- set-up ------------------------------------------------------------
    def bind(self, spark) -> None:
        """Fresh tables for every set-up: ``t`` starts as a projection of
        ``orders``; the landing table, its stream and the dynamic table start
        empty."""
        self.spark = spark
        self.ctx = SessionContext(spark)
        self.cleanup()
        self.setups += 1
        root = os.path.join(self.work_dir, f"tables{self.setups}")
        self.root = root
        self.t = VersionedTable(spark, os.path.join(root, "t"))
        self.raw = VersionedTable(spark, os.path.join(root, "raw"))
        self.stream = Stream(self.raw, name="cdc", at_version=0)
        self.dt = DynamicTable(
            spark, self.raw, os.path.join(root, "dt"),
            lambda df: df.groupBy("grp").agg(
                F.count("*").alias("n"), F.sum("v").alias("s")
            ),
            mode="incremental",
        )
        self.landing = f"landing{self.setups}"
        self.vals = self.base_vals.copy()
        self.alive = np.ones(self.n0, dtype=bool)
        self.landed = self.appended = self.consumed = 0
        self.staged: dict[int, str] = {}

    def first_op(self) -> None:
        self.t.append(
            self.spark.table("orders").select(
                F.col("o_orderkey").alias("k"),
                (F.col("o_orderkey") % self.GROUPS).cast("int").alias("grp"),
                F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            )
        )

    # -- the pass ----------------------------------------------------------
    ops = (
        "copy_into", "append", "stream_consume", "dt_refresh", "merge",
        "update", "delete", "read_query", "vacuum",
    )

    def pass_ops(self, rng: random.Random, pass_no: int) -> list[str]:
        """Shuffle the pass; the stream and the dynamic table read the
        landing table only after this pass's append, and VACUUM ends it."""
        follow = ["stream_consume", "dt_refresh"]
        rng.shuffle(follow)
        groups = [["append", *follow], ["copy_into"], ["merge"], ["update"],
                  ["delete"], ["read_query"]]
        rng.shuffle(groups)
        self._stage(pass_no)
        self.pass_no = pass_no
        return [op for g in groups for op in g] + ["vacuum"]

    def _stage(self, pass_no: int) -> None:
        """Batch ``pass_no``: ``half`` keys already in ``t`` (updated by the
        merge) and ``half`` new keys (inserted, deleted one pass later)."""
        rng = np.random.default_rng([self.seed, self.setups, pass_no])
        old = rng.choice(int(self.n0), self.half, replace=False)
        new = self.n0 + pass_no * self.half + np.arange(self.half)
        keys = np.concatenate([old, new]).astype(np.int64)
        vals = rng.integers(0, 1_000_000, keys.size, dtype=np.int64)
        path = os.path.join(self.stage, f"s{self.setups}_batch{pass_no}.parquet")
        pq.write_table(
            pa.table({
                "k": keys,
                "grp": (keys % self.GROUPS).astype(np.int32),
                "v": vals,
            }),
            path,
        )
        self.staged[pass_no] = path
        self.batch = (keys, vals)

    def execute(self, name: str, traced: bool, timed: bool) -> OpRecord:
        rec = OpRecord(layer=_INGEST_LAYER[name])
        clock = _clock()
        getattr(self, f"_op_{name}")(rec, traced)
        rec.exec = clock() - rec.construct
        return rec

    def _fail(self, name: str) -> None:
        self.failed[name] = self.failed.get(name, 0) + 1

    def _batch_df(self):
        return self.spark.read.parquet(self.staged[self.pass_no])

    def _op_copy_into(self, rec: OpRecord, traced: bool) -> None:
        loaded = self.ctx.copy_into(self.landing, [self.staged[self.pass_no]])
        rec.counts["files_loaded"] = loaded
        self.landed += len(self.batch[0])

    def _op_append(self, rec: OpRecord, traced: bool) -> None:
        version = self.raw.append(self._batch_df())
        self.appended += len(self.batch[0])
        if traced:
            (data_dir,) = [d for d in os.listdir(self.raw.path)
                           if d.startswith(f"v{version}_")]
            rec.counts["files_per_commit"] = sum(
                f.endswith(".parquet")
                for f in os.listdir(os.path.join(self.raw.path, data_dir))
            )

    def _op_stream_consume(self, rec: OpRecord, traced: bool) -> None:
        seen = []
        self.stream.consume(
            lambda ch: seen.extend(ch.agg(F.count("*"), F.sum("v")).collect())
        )
        want = (len(self.batch[0]), int(self.batch[1].sum()))
        if not seen or tuple(seen[0]) != want:
            self._fail("stream_consume")
        self.consumed += want[0]

    def _op_dt_refresh(self, rec: OpRecord, traced: bool) -> None:
        if not self.dt.refresh():
            self._fail("dt_refresh")

    def _op_merge(self, rec: OpRecord, traced: bool) -> None:
        merge_into(
            self.t, self._batch_df(), on=["k"],
            when_matched_update={"v": src("v")}, insert_not_matched=True,
        )
        keys, vals = self.batch
        self._grow(int(keys.max()) + 1)
        self.vals[keys] = vals
        self.alive[keys] = True
        rec.counts["changed"] = keys.size
        rec.counts["written"] = int(self.alive.sum())

    def _op_update(self, rec: OpRecord, traced: bool) -> None:
        g = self.pass_no % self.GROUPS
        update_table(self.t, F.col("grp") == g, {"v": F.col("v") + 1})
        hit = self.alive & (self._groups() == g)
        self.vals[hit] += 1
        rec.counts["changed"] = int(hit.sum())
        rec.counts["written"] = int(self.alive.sum())

    def _op_delete(self, rec: OpRecord, traced: bool) -> None:
        lo = self.n0 + (self.pass_no - 1) * self.half
        hi = lo + self.half
        delete_from(self.t, (F.col("k") >= lo) & (F.col("k") < hi))
        rec.counts["changed"] = int(self.alive[lo:hi].sum())
        self.alive[lo:hi] = False
        rec.counts["written"] = int(self.alive.sum())

    READ_SQL = "SELECT grp, count(*) AS n, sum(v) AS s FROM t_live GROUP BY grp"

    def _op_read_query(self, rec: OpRecord, traced: bool) -> None:
        clock = _clock()
        self.ctx.register_view("t_live", self.t.read())
        df = self.ctx.sql(self.READ_SQL)
        rec.construct = clock()
        rows = sorted(tuple(r) for r in df.collect())
        if traced:
            rec.phases = catalyst_phases(df)
        rec.layer = "query"
        if rows != self._expected_groups():
            self._fail("read_query")

    def _op_vacuum(self, rec: OpRecord, traced: bool) -> None:
        self.t.vacuum(retain_last=self.RETAIN)

    def _groups(self) -> np.ndarray:
        return np.arange(self.vals.size) % self.GROUPS

    def _grow(self, size: int) -> None:
        if size > self.vals.size:
            extra = size - self.vals.size
            self.vals = np.concatenate([self.vals, np.zeros(extra, np.int64)])
            self.alive = np.concatenate([self.alive, np.zeros(extra, bool)])

    def _expected_groups(self) -> list[tuple[int, int, int]]:
        g = self._groups()[self.alive]
        v = self.vals[self.alive]
        return [
            (grp, int((g == grp).sum()), int(v[g == grp].sum()))
            for grp in np.unique(g).tolist()
        ]

    def rewrite_s(self, name: str) -> float:
        if name != "read_query":
            return 0.0
        clock = _clock()
        rewrite_databend_sql(self.READ_SQL)
        return clock()

    # -- after the window ----------------------------------------------------
    def check(self) -> dict[str, int]:
        """Final state against the model: rows and sum of ``t``, rows in the
        landing table, and the rows the dynamic table has aggregated."""
        failed = dict(self.failed)
        count, total = self.t.read().agg(F.count("*"), F.sum("v")).first()
        want = (int(self.alive.sum()), int(self.vals[self.alive].sum()))
        landing = self.spark.table(self.landing).count() if self.landed else 0
        dt_rows = (
            self.dt.read().agg(F.sum("n")).first()[0] if self.appended else None
        ) or 0
        if (count, total) != want:
            failed["final_table"] = 1
        if landing != self.landed or dt_rows != self.appended:
            failed["final_landing"] = 1
        if self.consumed != self.appended:
            failed["final_stream"] = 1
        return failed

    def stored_bytes_per_live_byte(self) -> float:
        """Bytes under ``t``'s path over the bytes of its latest snapshot."""
        live = self.t.snapshots().orderBy(F.desc("version")).first().dir
        return _du(self.t.path) / _du(live)

    def cleanup(self) -> None:
        root = getattr(self, "root", None)
        if root:
            shutil.rmtree(root, ignore_errors=True)


_INGEST_LAYER = {
    "copy_into": "sources", "append": "streaming", "stream_consume": "streaming",
    "dt_refresh": "streaming", "merge": "mutations", "update": "mutations",
    "delete": "mutations", "read_query": "query", "vacuum": "streaming",
}


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _clock():
    from time import perf_counter

    t0 = perf_counter()
    return lambda: perf_counter() - t0


def make(name: str, data_dir: str, work_dir: str, seed: int):
    if name == "olap_sf01":
        return OlapSf01(data_dir)
    if name == "llm_ops":
        return LlmOps(data_dir)
    return IngestMutate(data_dir, work_dir, seed)
