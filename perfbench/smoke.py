#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload once at a tenth of its
size, untraced and traced.

    python3 perfbench/smoke.py

Asserts for each workload that the run exits 0, that its outputs pass
every check, and that the last stdout line carries every end-to-end
(untraced) or per-layer (traced) metric named in BENCHMARK.json, each a
finite number with the unit BENCHMARK.json gives. Exits 1 on the first
failure.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402


def check(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") != 0 or result.get("attempted", 0) < 1:
        problems.append(f"checks: correct={result.get('correct')} failed={result.get('failed')}")
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    got = result.get("metrics", {})
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            problems.append(f"missing metric {m['name']}")
        elif v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)) \
                or not math.isfinite(v["value"]):
            problems.append(f"bad metric {m['name']}: {v}")
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        problems.append(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    failed = False
    for workload in sorted(WORKLOADS):
        for trace in (0, 1):
            problems = check(workload, trace, spec)
            status = "ok" if not problems else "FAIL"
            print(f"{status} {workload} trace={trace}", flush=True)
            for p in problems:
                print(f"  {p}", flush=True)
            failed = failed or bool(problems)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
