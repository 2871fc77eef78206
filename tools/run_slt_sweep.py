"""Sweep the reference's sqllogictest suites and report pass/fail per
file.

Usage:
  python tools/run_slt_sweep.py [--all] [glob...]
      every file the globs match under the suites dir; files pinned green
      in tests/slt_green_files.txt are skipped unless --all is given.
      Each file's result prints as it completes, so a hung query is
      identifiable by the last-started file.
  python tools/run_slt_sweep.py --pins [out_file]
      re-run every pinned file and write the ones that regressed to
      out_file (default /tmp/pin_sweep.txt).

Exits 2, before starting Spark, when the suites dir is missing.
"""

from __future__ import annotations

import glob
import os
import sys

sys.path.insert(0, ".")

DEFAULT_GLOBS = [
    "duckdb/sql/**/*.test",
    "duckdb/join/**/*.test",
    "duckdb/subquery/**/*.test",
    "duckdb/common/**/*.test",
]
REFERENCE = "/root/reference/"
ROOT = REFERENCE + "tests/sqllogictests/suites/"
GREEN = os.path.join(os.path.dirname(__file__), "..", "tests", "slt_green_files.txt")


def _pins() -> list[str]:
    if not os.path.exists(GREEN):
        return []
    return [line.strip() for line in open(GREEN) if line.strip()]


def sweep(spark, globs: list[str], include_pinned: bool) -> None:
    from databend_spark.testkit import run_slt_file

    files: set[str] = set()
    for g in globs:
        files.update(glob.glob(ROOT + g, recursive=True))
    if not include_pinned:
        files -= {REFERENCE + rel for rel in _pins()}

    tp = tf = green = 0
    for f in sorted(files):
        rel = f.split("suites/")[-1]
        print(f"RUN {rel}", flush=True)
        try:
            r = run_slt_file(spark, f)
        except Exception as e:  # noqa: BLE001
            print(f"ERR {rel}: {str(e)[:200]}", flush=True)
            continue
        tp += r.passed
        tf += r.failed
        green += r.ok and r.passed > 0
        print(
            f"{'OK ' if r.ok else 'BAD'} {rel}: "
            f"{r.passed}p {r.failed}f {r.skipped}s",
            flush=True,
        )
    print(f"\nTOTAL: {tp} pass, {tf} fail; {green}/{len(files)} files fully green")


def sweep_pins(spark, out_path: str) -> None:
    from databend_spark.testkit import run_slt_file

    pins = _pins()
    bad: list[str] = []
    tp = tf = 0
    with open(out_path, "w") as out:
        for i, rel in enumerate(pins):
            try:
                r = run_slt_file(spark, REFERENCE + rel)
            except Exception as e:  # noqa: BLE001
                bad.append(rel)
                out.write(f"ERR {rel}: {str(e)[:200]}\n")
                out.flush()
                continue
            tp += r.passed
            tf += r.failed
            if not r.ok:
                bad.append(rel)
                out.write(
                    f"BAD {rel}: {r.passed}p {r.failed}f"
                    f" {[x[:160] for x in r.failures[:2]]}\n"
                )
                out.flush()
            if (i + 1) % 50 == 0:
                out.write(f"... {i + 1}/{len(pins)} done, {len(bad)} bad\n")
                out.flush()
        out.write(
            f"\nTOTAL: {tp} pass, {tf} fail; {len(bad)} regressed of"
            f" {len(pins)} pins\n"
        )
        for b in bad:
            out.write(f"REGRESSED {b}\n")
    print(f"{len(bad)} regressed of {len(pins)}; details in {out_path}")


def main(argv: list[str] | None = None) -> int:
    args = sys.argv[1:] if argv is None else argv
    if not os.path.isdir(ROOT):
        print(f"no sqllogictest suites at {ROOT}", file=sys.stderr)
        return 2
    from databend_spark.session import get_spark

    spark = get_spark("slt_sweep")
    if "--pins" in args:
        rest = [a for a in args if a != "--pins"]
        sweep_pins(spark, rest[0] if rest else "/tmp/pin_sweep.txt")
    else:
        globs = [a for a in args if a != "--all"]
        sweep(spark, globs or DEFAULT_GLOBS, "--all" in args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
