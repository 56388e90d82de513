#!/usr/bin/env python3
"""Smoke check of the benchmark itself.

    python3 benchmark/smoke.py

Runs every workload of BENCHMARK.json once at the tiny input size, with
and without tracing, and checks the result line: the four keys, a
passing correctness gate, and metric names and units exactly as
BENCHMARK.json declares them (end-to-end metrics untraced, per-layer
metrics traced). Also checks that the diagnostics line records the
environment. Exits non-zero on the first violation.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENV_KEYS = {"nproc", "ram_bytes", "pyspark", "driver_max_heap",
            "loadavg_before", "loadavg_after"}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} trace={trace}: exit {proc.returncode}\n"
                         f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-2])["diagnostics"], json.loads(lines[-1])


def check(workload: str, trace: int, declared: dict) -> None:
    diag, result = run(workload, trace)
    where = f"{workload} trace={trace}"
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{where}: result keys {sorted(result)}")
    if result["correct"] is not True or result["failed"] != 0 or result["attempted"] < 1:
        raise SystemExit(f"{where}: failed {result} {diag.get('error')}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != declared:
        raise SystemExit(f"{where}: metrics differ from BENCHMARK.json: "
                         f"missing {sorted(set(declared) - set(got))}, "
                         f"extra {sorted(set(got) - set(declared))}, "
                         f"units {[(k, got[k], declared[k]) for k in got if k in declared and got[k] != declared[k]]}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
            raise SystemExit(f"{where}: {k} = {v['value']!r}")
    if not ENV_KEYS <= set(diag["env"]):
        raise SystemExit(f"{where}: environment lacks {ENV_KEYS - set(diag['env'])}")
    print(f"ok {where}: {len(got)} metrics, {result['attempted']} passes")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in spec["workloads"]:
        check(w["name"], 0, e2e)
        check(w["name"], 1, layers)
    return 0


if __name__ == "__main__":
    sys.exit(main())
