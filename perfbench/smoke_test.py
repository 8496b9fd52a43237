"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py [workload ...]

Runs each workload named in BENCHMARK.json, and ingest_auto, which is
run by hand (or the workloads given), once untraced and once traced at
the smallest input size, and checks that the last output line is a
result with exactly the contract's keys, that the outputs were correct,
and that every metric named in BENCHMARK.json is emitted with its unit.
Exits 1 on any mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(workload: str, trace: int, want: dict[str, str]) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace),
           "--size", "smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    tag = f"{workload} trace={trace}"
    if p.returncode != 0:
        return [f"{tag}: exit {p.returncode}: {p.stderr[-500:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{tag}: result keys {sorted(res)}")
    if not res.get("correct") or res.get("failed") or res.get("attempted", 0) < 1:
        errs.append(f"{tag}: correct={res.get('correct')} failed={res.get('failed')}")
    got = res.get("metrics", {})
    for name, unit in want.items():
        m = got.get(name)
        if m is None:
            errs.append(f"{tag}: metric {name} missing")
        elif m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            errs.append(f"{tag}: metric {name} = {m}, want unit {unit}")
    extra = set(got) - set(want)
    if extra:
        errs.append(f"{tag}: metrics not in BENCHMARK.json: {sorted(extra)}")
    return errs


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = argv or [w["name"] for w in bench["workloads"]] + ["ingest_auto"]
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    errs = []
    for w in workloads:
        for trace, want in ((0, e2e), (1, layer)):
            e = check_run(w, trace, want)
            print(f"{w} trace={trace}: {'ok' if not e else 'FAIL'}", flush=True)
            errs += e
    for e in errs:
        print(e, file=sys.stderr)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
