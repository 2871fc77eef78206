"""Clocks and counters read from outside the engine.

* process-tree CPU (Python driver plus the JVM it launched) from /proc;
* JIT and GC time from the JVM's management beans, over py4j;
* Catalyst phase times from ``queryExecution().tracker()``;
* per-job-group stage and task metrics from Spark's uncompressed event log.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_start_age_s() -> float:
    """Seconds since this process was created (kernel start time), so set-up
    time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _CLK_TCK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids[ppid].append(int(entry))
    return kids


def descendants() -> list[int]:
    kids = _children()
    todo, out = list(kids.get(os.getpid(), ())), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and all its descendants."""
    total = 0
    for pid in (os.getpid(), *descendants()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited
            continue
        total += int(fields[11]) + int(fields[12])
    return total / _CLK_TCK


def jvm_times(spark) -> tuple[float, float]:
    """(JIT compilation seconds, GC collection seconds) since JVM start,
    from the CompilationMXBean and the GarbageCollectorMXBeans."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    jit = mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return jit, gc / 1000.0


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[0] - t0[0]
    return round(100.0 * (t1[1] - t0[1]) / total, 2) if total > 0 else -1.0


def catalyst_phases(df) -> dict[str, float]:
    """Seconds Catalyst spent in analysis, optimization and planning of the
    query behind ``df`` (recorded by its QueryPlanningTracker)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def event_log_stats(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, task seconds, shuffle and spill
    bytes, empty tasks and the worst per-stage task skew, read from the
    plain-JSON event logs under ``log_dir``."""
    stage_group: dict[tuple[str, int], str] = {}
    out: dict[str, dict] = {}
    tasks: dict[tuple[str, int], list[dict]] = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    rec = out.setdefault(group, _empty_exec())
                    rec["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[(app, sid)] = group
                elif kind == "SparkListenerTaskEnd":
                    key = (app, ev["Stage ID"])
                    if key in stage_group:
                        tasks[key].append(ev.get("Task Metrics") or {})
    for key, metrics in tasks.items():
        rec = out[stage_group[key]]
        rec["stages"] += 1
        run_s = []
        for m in metrics:
            rs = m.get("Executor Run Time", 0) / 1000.0
            run_s.append(rs)
            rd = m.get("Shuffle Read Metrics", {})
            read = rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            rec["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get(
                "Memory Bytes Spilled", 0
            )
            if read == 0 and m.get("Input Metrics", {}).get("Bytes Read", 0) == 0:
                rec["empty_tasks"] += 1
        rec["tasks"] += len(run_s)
        rec["task_s"] += sum(run_s)
        med = statistics.median(run_s)
        if len(run_s) > 1 and med > 0:
            rec["skew"] = max(rec["skew"], max(run_s) / med)
    return out


def _empty_exec() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "shuffle_bytes": 0,
        "spill_bytes": 0, "empty_tasks": 0, "skew": 1.0,
    }

