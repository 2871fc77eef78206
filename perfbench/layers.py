"""Per-layer metrics of a traced run.

Each traced op is split into layer self-times that never sum to more than
its wall time:

* a query op (``construct`` = the builder or ``SessionContext.sql`` call,
  ``exec`` = the collect) gives ``sqlgen`` the standalone rewrite time,
  ``catalyst`` the tracker's analysis time inside ``construct`` and its
  optimization and planning time inside ``exec``, ``operators`` the rest of
  ``construct`` and ``exec`` the rest of the action;
* an ingest op runs inside one engine call, so its whole time goes to the
  layer that call belongs to (``sources``, ``streaming`` or ``mutations``).

Layer metrics over op types are the sum of each type's median, like
``suite_s``; counts come from Spark's event log, per job group.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from measure import event_log_stats

UNITS = {
    "session.start_s": "s", "session.register_s": "s", "session.first_op_s": "s",
    "session.cold_setup_s": "s",
    "jvm.jit_cpu_s": "s", "jvm.gc_s": "s", "jvm.warmup_jit_cpu_s": "s",
    "jvm.warmup_gc_s": "s",
    "sqlgen.rewrite_s": "s", "sqlgen.fallback_retries": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "operators.construct_s": "s", "mutations.update_s": "s",
    "mutations.delete_s": "s", "mutations.merge_s": "s",
    "mutations.write_amp": "ratio",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.idle_slot_s": "s",
    "exec.shuffle_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.empty_task_ratio": "ratio", "exec.skew": "ratio",
    "sources.copy_into_s": "s", "sources.files_loaded": "count",
    "streaming.commit_s": "s", "streaming.files_per_commit": "count",
    "streaming.consume_s": "s", "streaming.refresh_s": "s",
    "trace.suite_s": "s", "trace.untraced_suite_s": "s", "trace.overhead_s": "s",
}


def self_times(sample: dict) -> dict[str, float]:
    """Layer self-times of one traced op (see the module docstring)."""
    rec = sample["rec"]
    if rec.layer not in ("", "query"):
        return {rec.layer: rec.exec}
    sqlgen = min(sample["rewrite"], rec.construct)
    analysis = min(rec.phases.get("analysis", 0.0), rec.construct - sqlgen)
    later = min(
        rec.phases.get("optimization", 0.0) + rec.phases.get("planning", 0.0),
        rec.exec,
    )
    return {
        "sqlgen": sqlgen,
        "catalyst": analysis + later,
        "operators": rec.construct - sqlgen - analysis,
        "exec": rec.exec - later,
    }


def _by_type(ops: list[dict], value) -> float:
    """Sum over op types of the median of ``value(op)``."""
    per: dict[str, list[float]] = defaultdict(list)
    for op in ops:
        per[op["op"]].append(value(op))
    return sum(statistics.median(v) for v in per.values())


def _median_of(ops: list[dict], name: str, value) -> float:
    vals = [value(op) for op in ops if op["op"] == name]
    return statistics.median(vals) if vals else 0.0


def per_layer(samples, setups, warm, window_jvm, work, slots, retries):
    """Per-layer metrics and the per-op trace records of a traced run."""
    exec_stats = event_log_stats(os.path.join(work, "eventlog"))
    ops = []
    for s in samples:
        if not s["traced"] or s["rec"] is None:
            continue
        rec = s["rec"]
        ev = exec_stats.get(s["id"], {})
        ops.append({
            "id": s["id"], "op": s["op"], "wall": s["wall"], "rec": rec,
            "self": self_times(s), "ev": ev, "query": rec.layer in ("", "query"),
        })
    query = [o for o in ops if o["query"]]
    ev = lambda key: lambda o: o["ev"].get(key, 0)  # noqa: E731
    tasks = sum(o["ev"].get("tasks", 0) for o in ops)
    empty = sum(o["ev"].get("empty_tasks", 0) for o in ops)
    mut = [o for o in ops if o["op"] in ("merge", "update", "delete")
           and o["rec"].counts.get("changed")]
    untraced = [s for s in samples if not s["traced"] and s["rec"] is not None]

    m = {
        "session.start_s": statistics.median(x["start_s"] for x in setups),
        "session.register_s": statistics.median(x["register_s"] for x in setups),
        "session.first_op_s": statistics.median(x["first_op_s"] for x in setups),
        "session.cold_setup_s": setups[0]["total_s"],
        "jvm.jit_cpu_s": window_jvm[0],
        "jvm.gc_s": window_jvm[1],
        "jvm.warmup_jit_cpu_s": sum(w["jit_cpu_s"] for w in warm),
        "jvm.warmup_gc_s": sum(w["gc_s"] for w in warm),
        "sqlgen.rewrite_s": _by_type(query, lambda o: o["self"]["sqlgen"]),
        "sqlgen.fallback_retries": retries,
        "catalyst.analysis_s": _by_type(
            query, lambda o: o["rec"].phases.get("analysis", 0.0)),
        "catalyst.optimization_s": _by_type(
            query, lambda o: o["rec"].phases.get("optimization", 0.0)),
        "catalyst.planning_s": _by_type(
            query, lambda o: o["rec"].phases.get("planning", 0.0)),
        "operators.construct_s": _by_type(query, lambda o: o["self"]["operators"]),
        "mutations.update_s": _median_of(ops, "update", lambda o: o["wall"]),
        "mutations.delete_s": _median_of(ops, "delete", lambda o: o["wall"]),
        "mutations.merge_s": _median_of(ops, "merge", lambda o: o["wall"]),
        "mutations.write_amp": (
            sum(o["rec"].counts["written"] for o in mut)
            / sum(o["rec"].counts["changed"] for o in mut)
        ) if mut else 0.0,
        "exec.wall_s": _by_type(query, lambda o: o["self"]["exec"]),
        "exec.jobs": _by_type(ops, ev("jobs")),
        "exec.stages": _by_type(ops, ev("stages")),
        "exec.tasks": _by_type(ops, ev("tasks")),
        "exec.task_s": _by_type(ops, ev("task_s")),
        "exec.idle_slot_s": _by_type(
            ops, lambda o: slots * o["wall"] - o["ev"].get("task_s", 0.0)),
        "exec.shuffle_bytes": _by_type(ops, ev("shuffle_bytes")),
        "exec.spill_bytes": _by_type(ops, ev("spill_bytes")),
        "exec.empty_task_ratio": empty / tasks if tasks else 0.0,
        "exec.skew": statistics.median(o["ev"].get("skew", 1.0) for o in ops),
        "sources.copy_into_s": _median_of(ops, "copy_into", lambda o: o["wall"]),
        "sources.files_loaded": sum(
            o["rec"].counts.get("files_loaded", 0) for o in ops),
        "streaming.commit_s": _median_of(ops, "append", lambda o: o["wall"]),
        "streaming.files_per_commit": _median_of(
            ops, "append", lambda o: o["rec"].counts.get("files_per_commit", 0)),
        "streaming.consume_s": _median_of(ops, "stream_consume", lambda o: o["wall"]),
        "streaming.refresh_s": _median_of(ops, "dt_refresh", lambda o: o["wall"]),
        "trace.suite_s": _by_type(ops, lambda o: o["wall"]),
        "trace.untraced_suite_s": _by_type(untraced, lambda o: o["wall"]),
    }
    m["trace.overhead_s"] = m["trace.suite_s"] - m["trace.untraced_suite_s"]
    records = [
        {"id": o["id"], "op": o["op"], "wall": o["wall"], "self": o["self"],
         "exec": o["ev"]}
        for o in ops
    ]
    return {k: float(v) for k, v in m.items()}, records
