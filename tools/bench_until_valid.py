"""Retry bench.py until its steal-validity gate passes.

The sandbox hypervisor emits steal bursts (2-10% for 30-60 s) that poison
whichever queries they land on; bench.py's gate flags such runs
``valid: false``. This wrapper waits for a quiet window (probe steal
< threshold), runs one bench pass, and stops at the first ``valid: true``
result — writing each attempt's JSON to a numbered file so no pass is
silently discarded.

Usage: python tools/bench_until_valid.py OUT_PREFIX [MAX_ATTEMPTS]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE_S = 20.0
PROBE_STEAL_MAX = 0.5  # % — don't even start during a burst
QUIET_WAIT_S = 45.0  # between failed probes
MAX_WAITS = 8  # failed probes per attempt before the attempt counts as failed


def _ticks() -> tuple[int, int]:
    """(total, steal) ticks, or (0, 0) when /proc/stat is unreadable —
    the caller's max(1, t1 - t0) turns that into a 0% probe."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()[1:]
        vals = [int(x) for x in parts]
        return sum(vals[:8]), vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError):
        return 0, 0


def _probe_steal(seconds: float = PROBE_S) -> float:
    t0, s0 = _ticks()
    time.sleep(seconds)
    t1, s1 = _ticks()
    return 100.0 * (s1 - s0) / max(1, t1 - t0)


def main() -> int:
    prefix = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bench_valid"
    max_attempts = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    ncpu = os.cpu_count() or 1
    for attempt in range(1, max_attempts + 1):
        # also wait out residual loadavg from the previous attempt's JVM
        # teardown: bench.py's own gate marks loadavg_1m > 25% of cores
        # as contended, so starting before it decays burns an attempt
        steal, load = _probe_steal(), os.getloadavg()[0]
        waits = 0
        while (steal >= PROBE_STEAL_MAX or load > 0.2 * ncpu) and waits < MAX_WAITS:
            waits += 1
            print(
                f"[attempt {attempt}] probe steal {steal:.2f}% "
                f"load {load:.1f} — waiting",
                file=sys.stderr,
                flush=True,
            )
            time.sleep(QUIET_WAIT_S)
            steal, load = _probe_steal(), os.getloadavg()[0]
        if steal >= PROBE_STEAL_MAX or load > 0.2 * ncpu:
            print(
                f"[attempt {attempt}] no quiet window after {MAX_WAITS} "
                "probes — attempt failed",
                file=sys.stderr,
                flush=True,
            )
            continue
        print(
            f"[attempt {attempt}] probe steal {steal:.2f}% — running bench",
            file=sys.stderr,
            flush=True,
        )
        out_path = f"{prefix}_a{attempt}.json"
        with open(out_path, "w") as out, open(f"{prefix}_a{attempt}.err", "w") as err:
            rc = subprocess.call(
                [sys.executable, os.path.join(REPO, "bench.py")],
                stdout=out,
                stderr=err,
                cwd=REPO,
            )
        if rc != 0:
            print(f"[attempt {attempt}] bench rc={rc}", file=sys.stderr, flush=True)
            continue
        try:
            line = [l for l in open(out_path) if l.startswith("{")][-1]
            d = json.loads(line)
        except (IndexError, ValueError) as exc:
            print(f"[attempt {attempt}] parse failed: {exc}", file=sys.stderr, flush=True)
            continue
        print(
            f"[attempt {attempt}] valid={d.get('valid')} "
            f"steal_run={d.get('steal_during_run_pct')} "
            f"sf0.1={d.get('sf_steal_pct')} sf1={d.get('sf1_steal_pct')} "
            f"total={d.get('value')} sf1_total={d.get('sf1_total')}",
            file=sys.stderr,
            flush=True,
        )
        if d.get("valid"):
            # bench.py's gate bounds RUN-WIDE steal; a stricter per-section
            # bound (env SECTION_STEAL_MAX, default accept any valid pass)
            # lets a hunt keep going for a burst-free pass while still
            # recording every valid one
            cap = float(os.environ.get("SECTION_STEAL_MAX", "100"))
            if (
                d.get("sf_steal_pct", 0.0) < cap
                and d.get("sf1_steal_pct", 0.0) < cap
            ):
                print(out_path)
                return 0
    print("no valid pass within attempt budget", file=sys.stderr)
    return 1


if __name__ == "__main__":
    sys.exit(main())
