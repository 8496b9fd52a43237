"""Per-layer metrics of a traced run, computed from its spans, the
tracer's counters and the status-store job table. Every name of ``per_layer_names()`` is emitted on every
workload; a layer the workload does not reach reads 0. What each
metric should move, and on which workload, is in ``layers.json``.
"""

from __future__ import annotations

import os
import statistics

from tracing import descendants, self_times
from workloads import INGEST_STAGES, TARGET_QUERIES

SELF_LAYERS = (
    "io.sources", "io.sinks", "operators.mentions", "operators.coref",
    "operators.neighborhood", "operators.social", "operators.geocode",
    "operators.counts", "operators.dedup", "operators.graph",
    "operators.curation",
)
JOB_LAYERS = ("operators.coref", "operators.graph")
SPARK_TOTALS = (
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
)


def per_layer_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in order."""
    out = [
        ("session.plan_memo.calls", "count", "lower"),
        ("session.plan_memo.hit_ratio", "ratio", "higher"),
        ("session.read.calls", "count", "lower"),
        ("session.read.self_s", "s", "lower"),
        ("session.expr_memo.hit_ratio", "ratio", "higher"),
        ("session.get_spark_s", "s", "lower"),
        ("io.sources.extract_exec_s", "s", "lower"),
        ("io.sources.files", "count", "higher"),
        ("io.sources.input_bytes_ratio", "ratio", "lower"),
    ]
    out += [(f"{layer}.self_s", "s", "lower") for layer in SELF_LAYERS]
    out += [(f"{layer}.jobs", "count", "lower") for layer in JOB_LAYERS]
    out += [
        ("io.sinks.bytes_written", "bytes", "lower"),
        ("io.sinks.bytes_per_input_byte", "ratio", "lower"),
    ]
    out += [(f"plans.ingest.{s}_s", "s", "lower") for s in INGEST_STAGES]
    out += [
        ("suite.construct_s", "s", "lower"),
        ("suite.construct_jobs", "count", "lower"),
        ("spark.plan_s", "s", "lower"),
        ("spark.execute_s", "s", "lower"),
    ]
    out += [(n, u, "lower") for n, u in SPARK_TOTALS]
    out += [("spark.core_utilization", "ratio", "higher")]
    for q in TARGET_QUERIES:
        out += [
            (f"suite.{q}.construct_s", "s", "lower"),
            (f"spark.{q}.execute_s", "s", "lower"),
            (f"spark.{q}.jobs", "count", "lower"),
        ]
    out += [("trace.overhead_ratio", "ratio", "lower")]
    return out


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(wl, tracer, spans, roots, jobs, *, region_s,
                  cpus, get_spark_s) -> dict[str, tuple[float, str]]:
    """Per-layer metrics over the timed region, normalised per
    operation (one pipeline call or one pass of the query mix)."""
    n_ops = max(1, len(roots))
    self_s = self_times(spans)
    by_id = {s.id: s for s in spans}
    c = tracer.counters
    vals: dict[str, float] = {}

    def layer_self(pred) -> float:
        return sum(self_s[s.id] for s in spans if pred(s)) / n_ops

    def jobs_under(ids: set[int]) -> list[dict]:
        groups = {f"pb{i}" for i in ids}
        return [j for j in jobs if j["group"] in groups]

    def under_layer(layer: str) -> set[int]:
        return descendants(spans, {s.id for s in spans if s.layer == layer})

    # session
    memo_calls = c.get("session.plan_memo.calls", 0)
    vals["session.plan_memo.calls"] = memo_calls / n_ops
    vals["session.plan_memo.hit_ratio"] = _ratio(
        c.get("session.plan_memo.hits", 0), memo_calls)
    reads = [s for s in spans if s.name in (
        "session.read_table", "session.read_spread")]
    vals["session.read.calls"] = len(reads) / n_ops
    vals["session.read.self_s"] = sum(self_s[s.id] for s in reads) / n_ops
    vals["session.expr_memo.hit_ratio"] = _ratio(
        c.get("session.expr_memo.hits", 0), c.get("session.expr_memo.calls", 0))
    vals["session.get_spark_s"] = get_spark_s

    # io.sources: the documents checkpoint is the extraction's execution
    extract = [
        s for s in spans if s.layer == "spark.exec" and s.attrs
        and os.path.basename(s.attrs["path"].rstrip("/")) == "documents"
        and os.path.basename(os.path.dirname(s.attrs["path"].rstrip("/"))) != "star"
    ]
    vals["io.sources.extract_exec_s"] = sum(s.end - s.start for s in extract) / n_ops
    vals["io.sources.files"] = float(wl.record().get("files", 0))
    scan_bytes = sum(j["input_bytes"] for j in jobs_under({s.id for s in extract}))
    vals["io.sources.input_bytes_ratio"] = _ratio(scan_bytes / n_ops, wl.input_bytes)

    for layer in SELF_LAYERS:
        vals[f"{layer}.self_s"] = layer_self(lambda s, L=layer: s.layer == L)
    for layer in JOB_LAYERS:
        vals[f"{layer}.jobs"] = len(jobs_under(under_layer(layer))) / n_ops
    written = sum(j["output_bytes"] for j in jobs_under(under_layer("io.sinks")))
    vals["io.sinks.bytes_written"] = written / n_ops
    vals["io.sinks.bytes_per_input_byte"] = _ratio(written / n_ops, wl.input_bytes)

    # pipeline stages, from the timings ingest returns
    for s in INGEST_STAGES:
        vals[f"plans.ingest.{s}_s"] = 0.0
    for stage in {k for t in wl.timings for k in t}:
        vals[f"plans.ingest.{stage}_s"] = _median(
            t[stage] for t in wl.timings if stage in t)

    # suite: construction of each query, before the forcing action
    constructs = [s for s in spans if s.layer == "suite.construct"]
    vals["suite.construct_s"] = sum(s.end - s.start for s in constructs) / n_ops
    vals["suite.construct_jobs"] = len(
        jobs_under(descendants(spans, {s.id for s in constructs}))) / n_ops


    vals["spark.plan_s"] = c.get("spark.plan_s", 0.0) / n_ops
    execs = [s for s in spans if s.layer == "spark.exec"]
    vals["spark.execute_s"] = sum(s.end - s.start for s in execs) / n_ops
    vals["spark.jobs"] = len(jobs) / n_ops
    for name, key in (("spark.stages", "stages"), ("spark.tasks", "tasks"),
                      ("spark.shuffle_write_bytes", "shuffle_write_bytes")):
        vals[name] = sum(j[key] for j in jobs) / n_ops
    run_s = sum(j["run_ms"] for j in jobs) / 1000
    vals["spark.executor_run_s"] = run_s / n_ops
    vals["spark.executor_cpu_s"] = sum(j["cpu_ns"] for j in jobs) / 1e9 / n_ops
    vals["spark.core_utilization"] = _ratio(run_s, region_s * cpus)

    # per-query targets: median over the query's timed executions
    for q in TARGET_QUERIES:
        qroots = [s for s in spans if s.name == f"query.{q}"]
        cons, exe, nj = [], [], []
        for r in qroots:
            tree = descendants(spans, {r.id})
            cons += [by_id[i].end - by_id[i].start for i in tree
                     if by_id[i].layer == "suite.construct"]
            exe.append(sum(by_id[i].end - by_id[i].start for i in tree
                           if by_id[i].layer == "spark.exec"))
            nj.append(len(jobs_under(tree)))
        vals[f"suite.{q}.construct_s"] = _median(cons)
        vals[f"spark.{q}.execute_s"] = _median(exe)
        vals[f"spark.{q}.jobs"] = _median(nj)

    overhead = tracer.overhead_s + c.get("spark.plan_s", 0.0)
    vals["trace.overhead_ratio"] = _ratio(region_s, region_s - overhead)

    return {n: (float(vals[n]), u) for n, u, _b in per_layer_names()}
