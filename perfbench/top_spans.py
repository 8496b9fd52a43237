"""Summarise a traced run's spans file: span names ranked by total
self time in the timed region, with call counts and the Spark jobs
fired inside them.

    python3 perfbench/top_spans.py .perfbench_out/ingest-seed1-spans.json [N]
"""

from __future__ import annotations

import json
import sys

from tracing import Span, self_times


def top(path: str, n: int = 15) -> list[tuple[str, int, float, int]]:
    with open(path) as fh:
        d = json.load(fh)
    lo, hi = d["timed_region"]
    spans = []
    for s in d["spans"]:
        if not lo <= s["start"] <= hi:
            continue
        sp = Span(s["id"], s["name"], s["layer"], s["parent"], s["start"], s.get("attrs"))
        sp.end = s["end"]
        spans.append(sp)
    own = self_times(spans)
    jobs: dict[str, int] = {}
    for j in d["jobs"]:
        if j["group"]:
            jobs[j["group"]] = jobs.get(j["group"], 0) + 1
    agg: dict[str, list] = {}
    for s in spans:
        a = agg.setdefault(s.name, [0, 0.0, 0])
        a[0] += 1
        a[1] += own.get(s.id, 0.0)
        a[2] += jobs.get(f"pb{s.id}", 0)
    rows = sorted(((k, c, t, j) for k, (c, t, j) in agg.items()), key=lambda r: -r[2])
    return rows[:n]


if __name__ == "__main__":
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 15
    print(f"{'span':58s} {'calls':>6s} {'self_s':>8s} {'jobs':>5s}")
    for name, calls, self_s, jobs in top(sys.argv[1], n):
        print(f"{name:58s} {calls:6d} {self_s:8.2f} {jobs:5d}")
