#!/usr/bin/env python3
"""Tiny-input self-test of the benchmark.

    python3 perfbench/selftest.py

Checks that:
  * every workload completes, with and without tracing, its checks pass,
    and it prints every metric BENCHMARK.json names, with that unit;
  * every layer appears in the trace with tasks > 0, and the trace's busy
    core-seconds agree with ``BENCH/occupancy.py`` on the same event log;
  * in a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero without printing a result.
Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]  # spans.py imports BENCH/occupancy.py from the root

import run  # noqa: E402

TURNS = 10_000  # large enough that the first hot conversation fits


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )


def check_workload(name: str, trace: int, declared: dict, errors: list[str]) -> None:
    p = bench("--workload", name, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--turns", str(TURNS))
    where = f"{name} --trace {trace}"
    if p.returncode != 0:
        errors.append(f"{where}: exit {p.returncode}\n{p.stderr[-3000:]}")
        return
    result = json.loads(p.stdout.strip().splitlines()[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        errors.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"]:
        errors.append(f"{where}: checks failed\n{p.stderr[-3000:]}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != declared:
        errors.append(f"{where}: metrics/units differ from BENCHMARK.json: "
                      f"{set(got.items()) ^ set(declared.items())}")
    bad = [k for k, v in result["metrics"].items()
           if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
    if bad:
        errors.append(f"{where}: non-numeric values {bad}")
    if not trace:
        return
    path = re.search(r"trace written to (\S+)", p.stderr).group(1)
    with open(os.path.join(ROOT, path)) as f:
        tr = json.load(f)
    empty = [layer for layer in run.LAYERS if tr["counters"].get(layer, {}).get("tasks", 0) <= 0]
    if empty:
        errors.append(f"{where}: layers without tasks {empty}")
    import spans

    occ = subprocess.run(
        [sys.executable, "BENCH/occupancy.py", tr["event_log"], str(run.CORES)],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    busy = float(re.search(r"busy=([\d.]+) core-s", occ.stdout).group(1))
    mine = spans.total_busy_core_s(tr["event_log"])
    if abs(busy - mine) > 0.06:
        errors.append(f"{where}: busy core-s {mine:.2f}, occupancy.py says {busy}")


def check_bare_directory(errors: list[str]) -> None:
    bare = os.path.join(run.WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for n in os.listdir(HERE):
        if os.path.isfile(os.path.join(HERE, n)):
            shutil.copy(os.path.join(HERE, n), os.path.join(bare, "perfbench"))
    p = bench("--workload", "pipeline_lean", "--seed", "1", "--seconds", "1", "--trace", "0",
              cwd=bare)
    if p.returncode == 0 or p.stdout.strip():
        errors.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-200:]!r}")
    shutil.rmtree(bare)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors: list[str] = []
    check_bare_directory(errors)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            check_workload(w["name"], trace, {m["name"]: m["unit"] for m in spec[key]}, errors)
    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
