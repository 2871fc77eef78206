"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 15 --trace 0

A run builds its input tables (cached under ``.perfbench_data/``), sets up
the engine five times, runs a fixed number of warm-up passes, then runs
whole closed-loop passes of the workload's ops for at least ``--seconds``
seconds, and finally checks every result. The last line of standard output
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it holds the run's telemetry.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# llm_ops is not in BENCHMARK.json: its ops sit on a JIT warm-up slope that
# does not level off within a run the time budget allows (see README.md)
WORKLOADS = ("olap_sf01", "ingest_mutate", "llm_ops")
WARMUP_PASSES = 2
MIN_PASSES = 3
SETUPS = 5
# Spark gets two task slots fewer than the machine has cores: the JIT is
# still compiling through the window, and it, the GC and the Python driver
# keep two cores. The heap fits a 15 GB machine shared with other work.
SLOTS = max(1, (os.cpu_count() or 2) - 2)
DRIVER_MEM = "3g"

E2E_UNITS = {
    "suite_s": "s",
    "throughput_ops_s": "1/s",
    "cpu_s_per_op": "s",
    "setup_s": "s",
    "stored_bytes_per_live_byte": "ratio",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"),
                   help="one workload, or 'all' to run each in turn")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=0.1,
                   help="data scale factor (the self-test uses 0.001)")
    p.add_argument("--trace-out", help="write per-op trace records here")
    return p.parse_args(argv)


def _isolate(work: str, trace: bool) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run's own directory, which is deleted on exit."""
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(SLOTS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file: HotSpot would write it under /tmp
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def _stop(spark) -> None:
    """Stop Spark and its JVM, and wait until every child process is gone."""
    from pyspark import SparkContext

    from measure import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def _pct(values: list[float], q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.rng = random.Random(args.seed)
        self.traced_ops: list[dict] = []

    def setup(self, cold_age: float | None) -> dict:
        from databend_spark.session import get_spark, register_tables

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        register_tables(spark, self.data_dir, self.wl.tables)
        t2 = time.perf_counter()
        self.wl.bind(spark)
        self.wl.first_op()
        t3 = time.perf_counter()
        self.spark = spark
        return {
            "start_s": t1 - t0, "register_s": t2 - t1, "first_op_s": t3 - t2,
            "total_s": (cold_age or 0.0) + t3 - t0,
        }

    def one_pass(self, pass_no: int, timed: bool, traced: bool, out: list) -> int:
        ops = self.wl.pass_ops(self.rng, pass_no)
        for name in ops:
            rewrite = 0.0
            if traced:
                rewrite = self.wl.rewrite_s(name)
                self.spark.sparkContext.setJobGroup(f"op{len(out)}", name)
            t0 = time.perf_counter()
            try:
                rec = self.wl.execute(name, traced, timed)
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                if not timed:
                    raise
                print(f"op {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
                rec = None
            wall = time.perf_counter() - t0
            out.append({"op": name, "wall": wall, "rec": rec, "traced": traced,
                        "rewrite": rewrite, "id": f"op{len(out)}"})
        if traced:
            self.spark.sparkContext.setJobGroup("", "")
        return len(ops)

    def main(self) -> dict:
        import datagen
        import workloads
        from measure import jvm_times, process_start_age_s, steal_pct, tree_cpu_s

        from bench import _cpu_ticks, _machine_load

        args = self.args
        cold_age = process_start_age_s()
        phase, mark = {}, [time.perf_counter()]

        def lap(name):
            now = time.perf_counter()
            phase[name] = now - mark[0]
            mark[0] = now

        self.data_dir = os.path.join(ROOT, ".perfbench_data", f"sf{args.scale:g}")
        rows = datagen.ensure(args.scale, self.data_dir)
        self.wl = workloads.make(args.workload, self.data_dir, self.work, args.seed)
        load_before = _machine_load()
        lap("datagen")

        setups = []
        for i in range(SETUPS):
            if i:
                self.spark.stop()
            setups.append(self.setup(cold_age if i == 0 else None))

        lap("setups")
        warm = []
        jit0, gc0 = jvm_times(self.spark)
        for p in range(WARMUP_PASSES):
            t0 = time.perf_counter()
            self.one_pass(p, timed=False, traced=False, out=[])
            jit1, gc1 = jvm_times(self.spark)
            warm.append({"pass_s": time.perf_counter() - t0,
                         "jit_cpu_s": jit1 - jit0, "gc_s": gc1 - gc0})
            jit0, gc0 = jit1, gc1

        lap("warmup")
        # whole passes until --seconds have passed; rates are taken per pass
        # and summarised by their median, so one slow stretch of the host
        # moves one pass, not the run's figure
        samples: list[dict] = []
        rates: list[tuple[float, float]] = []
        ticks0, t0 = _cpu_ticks(), time.perf_counter()
        jit_start, gc_start = jvm_times(self.spark)
        p = WARMUP_PASSES
        while len(rates) < MIN_PASSES or time.perf_counter() - t0 < args.seconds:
            cpu0, jit0, p0 = tree_cpu_s(), jvm_times(self.spark)[0], time.perf_counter()
            n = self.one_pass(p, timed=True, traced=bool(args.trace and len(rates) % 2),
                              out=samples)
            wall = time.perf_counter() - p0
            # JIT compilation is warm-up work a long-lived session stops
            # paying; it is reported as jvm.jit_cpu_s instead
            cpu = tree_cpu_s() - cpu0 - (jvm_times(self.spark)[0] - jit0)
            rates.append((n / wall, cpu / n))
            p += 1
        window = time.perf_counter() - t0
        passes = len(rates)
        ticks1 = _cpu_ticks()
        jit_end, gc_end = jvm_times(self.spark)
        window_jvm = (jit_end - jit_start, gc_end - gc_start)

        lap("window")
        failed_checks = self.wl.check()
        stored = self.wl.stored_bytes_per_live_byte()
        retries = (
            self.wl.ctx.system("query_log").filter("status <> 'ok'").count()
        )
        lap("check")
        _stop(self.spark)
        lap("stop")

        errors = sum(s["rec"] is None for s in samples)
        failed = errors + sum(failed_checks.values())
        lat: dict[str, list[float]] = defaultdict(list)
        for s in samples:
            if not (args.trace and s["traced"]):
                lat[s["op"]].append(s["wall"])
        med = {k: statistics.median(v) for k, v in lat.items()}
        stretch = sorted(s["wall"] / med[s["op"]] for s in samples if s["op"] in med
                         and not (args.trace and s["traced"]))
        total_setup = [s["total_s"] for s in setups]
        report = {
            "workload": args.workload, "seed": args.seed, "scale": args.scale,
            "table_rows": rows, "slots": SLOTS, "driver_mem": DRIVER_MEM,
            "warmup_passes": warm, "window_s": window, "passes": passes,
            "ops": len(samples), "op_median_s": med, "op_samples_s": lat,
            "pass_rates": rates, "phase_s": phase,
            "failed_checks": failed_checks, "op_errors": errors,
            "failed_op_ratio": failed / len(samples),
            "stretch_p95": _pct(stretch, 95) if len(stretch) > 1 else 1.0,
            "stretch_samples": len(stretch),
            "setups_s": total_setup, "steal_pct": steal_pct(ticks0, ticks1),
            "load_before": load_before, "loadavg_after": os.getloadavg(),
            "window_jit_cpu_s": window_jvm[0], "window_gc_s": window_jvm[1],
        }
        metrics = {
            "suite_s": sum(med.values()),
            "throughput_ops_s": statistics.median(r[0] for r in rates),
            "cpu_s_per_op": statistics.median(r[1] for r in rates),
            "setup_s": statistics.median(total_setup),
            "stored_bytes_per_live_byte": stored,
        }
        report["end_to_end"] = metrics
        if args.trace:
            from layers import per_layer

            layer, self.traced_ops = per_layer(
                samples, setups, warm, window_jvm, self.work, SLOTS, retries,
            )
            metrics = layer
        return {
            "report": report,
            "result": {
                "correct": failed == 0,
                "attempted": len(samples),
                "failed": failed,
                "metrics": metrics,
            },
        }


def run_all(args) -> int:
    """Run every workload in its own process; print each result line
    prefixed with the workload's name."""
    import subprocess

    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print(name, lines[-1] if proc.returncode == 0 and lines else
              f"failed with exit code {proc.returncode}", flush=True)
        status = status or proc.returncode
    return status


def main(argv=None) -> int:
    args = _args(argv)
    if args.workload == "all":
        return run_all(args)
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        _isolate(work, bool(args.trace))
        sys.path[:0] = [ROOT, HERE]
        try:
            import bench  # noqa: F401
            import databend_spark  # noqa: F401
            import tools.check_oracle  # noqa: F401
        except ImportError as e:
            print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
            return 2
        run = Run(args, work)
        out = run.main()
        if args.trace_out:
            with open(args.trace_out, "w") as f:
                json.dump(run.traced_ops, f)
        units = dict(E2E_UNITS)
        if args.trace:
            from layers import UNITS as units
        metrics = out["result"]["metrics"]
        bad = [k for k, v in metrics.items() if not math.isfinite(v)]
        if bad:
            print(f"perfbench: non-finite metrics {bad}", file=sys.stderr)
            return 1
        out["result"]["metrics"] = {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        }
        print(json.dumps({"perfbench_report": out["report"]}), flush=True)
        print(json.dumps(out["result"]), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
