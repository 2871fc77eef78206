"""Smoke test of the benchmark itself, on tiny data (scale 0.001).

    python3 perfbench/selftest.py

Runs every workload (those ``BENCHMARK.json`` lists and ``llm_ops``,
which it does not) once untraced and once traced and checks that

* the last output line has exactly ``correct``, ``attempted``, ``failed`` and
  ``metrics``, with every result correct and no op failed;
* every metric that ``BENCHMARK.json`` names is printed with its unit as a
  finite number (end-to-end metrics untraced, per-layer metrics traced);
* in the traced run, each op's layer self-times sum to no more than its wall
  time.

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def _check_run(workload: str, trace: int, spec: dict, scratch: str) -> list[str]:
    trace_out = os.path.join(scratch, f"{workload}-{trace}.json")
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.001", "--trace-out", trace_out],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"{where}: correct={result['correct']} "
                      f"failed={result['failed']} attempted={result['attempted']}")
    want = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    if set(got) != {m["name"] for m in want}:
        errors.append(f"{where}: metric names differ: {sorted(set(got) ^ {m['name'] for m in want})}")
    for m in want:
        v = got.get(m["name"], {})
        if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)) \
                or not math.isfinite(v["value"]):
            errors.append(f"{where}: {m['name']} printed as {v}")
    if trace:
        with open(trace_out) as f:
            ops = json.load(f)
        if not ops:
            errors.append(f"{where}: no traced ops")
        for op in ops:
            if sum(op["self"].values()) > op["wall"] + 1e-9:
                errors.append(f"{where}: {op['op']} self-times {op['self']} "
                              f"exceed wall {op['wall']}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=base)
    errors = []
    try:
        for name in WORKLOADS:
            for trace in (0, 1):
                errs = _check_run(name, trace, spec, scratch)
                print(f"{name} trace={trace}: {'ok' if not errs else 'FAIL'}")
                errors += errs
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for e in errors:
        print(e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
