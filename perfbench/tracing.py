"""Span tracer for traced benchmark runs (``--trace 1``).

The engine is not edited. Instead the tracer rebinds public functions
of the engine's modules wherever a caller looks them up: as an
attribute of the defining module and of every loaded package module
that imported the function by name. Each wrapper records a span (name,
layer, start, end, parent) and sets the Spark job group to the span's
id, so jobs, stages and task metrics in the status store map back to
the innermost span that fired them. A second wrapper around
``DataFrameWriter`` saves records the execution spans. Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import os
import sys
import time

PKG = "vizlinc_ingester_spark"

#: layer name -> (module, public functions to wrap). Pure-Python row
#: kernels that executors call (e.g. ``neighborhood.levenshtein``) and
#: cheap Column builders are left out: they fire no jobs and wrapping
#: them would only add overhead.
LAYERS: dict[str, tuple[str, tuple[str, ...]]] = {
    "session": (f"{PKG}.session", (
        "get_spark", "ship_package", "read_table", "read_spread",
        "spread_if_narrow", "plan_memo", "expr_memo",
        "invalidate_plan_memo",
    )),
    "io.sources": (f"{PKG}.io.sources", (
        "scan_directory", "extract_text", "extract_text_auto",
        "read_mentions_csv", "xml_to_token_tags",
    )),
    "io.sinks": (f"{PKG}.io.sinks", (
        "write_star_schema", "write_star_bucketed", "read_star_schema",
        "social_network_for_export", "write_graphml", "write_node_id_tsv",
        "write_mentions_csv", "write_token_tsv", "write_training_shards",
    )),
    "operators.mentions": (f"{PKG}.operators.mentions", (
        "derive_mentions", "extract_mentions_dict",
        "extract_mentions_tokenjoin",
    )),
    "operators.coref": (f"{PKG}.operators.coref", (
        "normalized_mentions", "within_doc_entities",
        "assign_mentions_to_entities", "across_doc_entities",
        "across_doc_membership", "prefix_merge_pairs",
        "global_id_clusters", "within_doc_entities_simple",
        "across_doc_entities_simple",
    )),
    "operators.neighborhood": (f"{PKG}.operators.neighborhood", (
        "sorted_neighborhood_clusters",
    )),
    "operators.social": (f"{PKG}.operators.social", (
        "doc_entity_pairs", "social_network", "filter_social_network",
    )),
    "operators.geocode": (f"{PKG}.operators.geocode", (
        "parse_nominatim_xml", "resolve_locations",
    )),
    "operators.counts": (f"{PKG}.operators.counts", (
        "document_entity_counts", "distinct_doc_entities",
    )),
    "operators.dedup": (f"{PKG}.operators.dedup", (
        "minhash_signatures", "minhash_signatures_vec", "lsh_band_buckets",
        "lsh_candidate_pairs", "hashed_shingle_docs",
        "jaccard_verify_hashed", "minhash_lsh_verified",
        "exact_duplicates", "simhash_docs", "simhash_docs_vec",
        "simhash_near_dups",
    )),
    "operators.graph": (f"{PKG}.operators.graph", (
        "connected_components", "cluster_by_edges", "triangles",
    )),
    "operators.curation": (f"{PKG}.operators.curation", (
        "chunk_documents", "doc_ngrams", "decontaminate_scores",
        "redact_pii", "pack_chunks",
    )),
}

#: DataFrameWriter methods the engine (and the noop sink) write through
WRITER_METHODS = ("save", "parquet", "csv", "jdbc", "saveAsTable")


class Span:
    __slots__ = ("id", "name", "layer", "parent", "start", "end", "attrs")

    def __init__(self, sid, name, layer, parent, start, attrs):
        self.id, self.name, self.layer = sid, name, layer
        self.parent, self.start, self.end = parent, start, None
        self.attrs = attrs

    def as_dict(self) -> dict:
        return {
            "id": self.id, "name": self.name, "layer": self.layer,
            "parent": self.parent, "start": self.start, "end": self.end,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    """Records spans and per-layer counters for one benchmark run.

    ``install`` rebinds the engine's functions, ``uninstall`` restores
    them. ``span`` is also used directly by the workloads for the spans
    the benchmark itself owns (one operation, one query, its
    construction)."""

    def __init__(self, spark):
        self.spark = spark
        self._jsc = spark.sparkContext._jsc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._restore: list[tuple[object, str, object]] = []
        #: seconds spent in tracer bookkeeping (not in traced calls)
        self.overhead_s = 0.0
        self.counters: dict[str, float] = {}
        self.t0 = time.perf_counter()

    # --- spans ------------------------------------------------------
    def _open(self, name: str, layer: str, attrs: dict | None) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), name, layer, parent,
                 time.perf_counter() - self.t0, attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._jsc.setJobGroup(f"pb{s.id}", name, False)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter() - self.t0
        self._stack.pop()
        if self._stack:
            top = self._stack[-1]
            self._jsc.setJobGroup(f"pb{top.id}", top.name, False)
        else:
            self._jsc.clearJobGroup()

    def span(self, name: str, layer: str, attrs: dict | None = None):
        return _SpanCtx(self, name, layer, attrs)

    def count(self, key: str, by: float = 1) -> None:
        self.counters[key] = self.counters.get(key, 0) + by

    # --- rebinding --------------------------------------------------
    def install(self) -> None:
        originals: dict[int, object] = {}
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            for name in names:
                fn = getattr(mod, name, None)
                if not inspect.isfunction(fn):
                    continue
                originals[id(fn)] = self._wrap(fn, layer, name)
        self._rebind(originals)
        self._wrap_writer()

    def _rebind(self, originals: dict[int, object]) -> None:
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None:
                    self._restore.append((mod, attr, val))
                    setattr(mod, attr, w)

    def uninstall(self) -> None:
        for owner, attr, val in reversed(self._restore):
            setattr(owner, attr, val)
        self._restore.clear()

    def _wrap(self, fn, layer: str, name: str):
        hook = None
        if layer == "session" and name in ("plan_memo", "expr_memo"):
            # position of the ``builder`` argument
            hook = self._memo_hook(f"session.{name}", 2 if name == "plan_memo" else 1)
        span_name = f"{layer}.{name}"
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t = time.perf_counter()
            if hook is not None:
                args, done = hook(args, kwargs)
            s = tracer._open(span_name, layer, None)
            tracer.overhead_s += time.perf_counter() - t
            try:
                return fn(*args, **kwargs)
            finally:
                t = time.perf_counter()
                tracer._close(s)
                if hook is not None:
                    done()
                tracer.overhead_s += time.perf_counter() - t

        return wrapper

    def _memo_hook(self, key: str, builder_pos: int):
        """Hits and misses of a memo are inferred from whether the
        builder ran; plan_memo evictions from the registry size."""
        from vizlinc_ingester_spark import session

        def hook(args, kwargs):
            ran = []
            args = list(args)
            inner = args[builder_pos] if len(args) > builder_pos else kwargs["builder"]

            def builder():
                ran.append(1)
                return inner()

            if len(args) > builder_pos:
                args[builder_pos] = builder
            else:
                kwargs["builder"] = builder
            before = self._memo_size(session, args)
            # a bypassing call (memo=False) stores nothing
            stores = (args[3] if len(args) > 3 else kwargs.get("memo", True))

            def done():
                self.count(f"{key}.calls")
                self.count(f"{key}.misses" if ran else f"{key}.hits")
                if before is not None:
                    after = self._memo_size(session, args)
                    grew = 1 if ran and stores else 0
                    self.count(f"{key}.evictions", max(0, before + grew - after))

            return tuple(args), done

        return hook

    @staticmethod
    def _memo_size(session, args):
        # only plan_memo has a size-bounded registry (first arg: spark)
        if not args or not hasattr(args[0], "sparkContext"):
            return None
        return len(session._PLAN_MEMO.get(args[0], ()))

    def _wrap_writer(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        tracer = self
        for meth in WRITER_METHODS:
            fn = getattr(DataFrameWriter, meth)

            def make(fn=fn, meth=meth):
                @functools.wraps(fn)
                def wrapper(self, *args, **kwargs):
                    if tracer._stack and tracer._stack[-1].layer == "spark.exec":
                        return fn(self, *args, **kwargs)  # save -> parquet
                    path = kwargs.get("path", args[0] if args else None)
                    if isinstance(path, str) and os.path.isabs(path):
                        path = os.path.relpath(path)  # from the checkout root
                    t = time.perf_counter()
                    with tracer.span("spark.plan", "spark.plan"):
                        self._df._jdf.queryExecution().executedPlan()
                    tracer.count("spark.plan_s", time.perf_counter() - t)
                    s = tracer._open(f"spark.exec.{meth}", "spark.exec",
                                     {"path": str(path)} if path else None)
                    try:
                        return fn(self, *args, **kwargs)
                    finally:
                        tracer._close(s)

                return wrapper

            self._restore.append((DataFrameWriter, meth, fn))
            setattr(DataFrameWriter, meth, make())

    # --- status store -------------------------------------------------
    def job_count(self) -> int:
        """Number of jobs submitted so far (job ids count up from 0)."""
        return self.spark.sparkContext._jsc.sc().statusStore().jobsList(None).length()

    def job_table(self, first_job: int) -> list[dict]:
        """Jobs with id >= ``first_job`` and their stage metrics, read
        from the Spark status store (fills with the UI disabled)."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        arr = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        st = store.stageList(None, False, False, arr, None)
        stages = {}
        for i in range(st.length()):
            s = st.apply(i)
            stages[(s.stageId(), s.attemptId())] = {
                "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "input_bytes": s.inputBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "output_bytes": s.outputBytes(),
            }
        by_stage: dict[int, list[dict]] = {}
        for (sid, _att), m in stages.items():
            by_stage.setdefault(sid, []).append(m)
        jobs = store.jobsList(None)
        out = []
        for i in range(jobs.length()):
            j = jobs.apply(i)
            if j.jobId() < first_job:
                continue
            g = j.jobGroup()
            ids = j.stageIds()
            sids = [ids.apply(k) for k in range(ids.length())]
            ms = [m for sid in sids for m in by_stage.get(sid, ())]
            out.append({
                "job": j.jobId(),
                "group": g.get() if g.isDefined() else None,
                "stages": sum(1 for m in ms if m["tasks"] > 0),
                **{k: sum(m[k] for m in ms) for k in (
                    "tasks", "run_ms", "cpu_ns", "input_bytes",
                    "shuffle_write_bytes", "spill_bytes", "output_bytes",
                )},
            })
        return out

    def dump(self, path: str, jobs: list[dict], extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({
                "spans": [s.as_dict() for s in self.spans],
                "jobs": jobs,
                "counters": self.counters,
                **extra,
            }, fh)


class _SpanCtx:
    __slots__ = ("tracer", "args", "span")

    def __init__(self, tracer, name, layer, attrs):
        self.tracer, self.args = tracer, (name, layer, attrs)

    def __enter__(self):
        self.span = self.tracer._open(*self.args)
        return self.span

    def __exit__(self, *exc):
        self.tracer._close(self.span)
        return False


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: duration minus the time its children
    cover (children run one after another on the driver thread)."""
    child = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
    return {
        s.id: max(0.0, (s.end - s.start) - child.get(s.id, 0.0))
        for s in spans if s.end is not None
    }


def descendants(spans: list[Span], roots: set[int]) -> set[int]:
    """Ids of ``roots`` and every span below them."""
    out = set(roots)
    for s in spans:  # parents are opened before children
        if s.parent in out:
            out.add(s.id)
    return out
