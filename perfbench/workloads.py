"""The benchmark's workloads: inputs made from the seed, one timed
operation, and the checks of its outputs.

Each workload drives the engine only through its public entry points
(``plans.ingest.ingest`` and ``suite.collect_suite`` queries forced
with the noop sink). Inputs are made from the committed tables in
``perfbench/data`` (a copy of the synthetic sf0.01 corpus) and written
into the run's work directory, so the program sees only the generated
inputs.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import time

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")

INGEST_STAGES = (
    "extract_text", "find_named_entities", "process_person",
    "process_organization", "process_location", "entities_checkpoint",
    "mentions_assigned", "social_network", "geocode", "precompute_counts",
    "export_star", "export_graphml",
)

#: The query mix, sized to the run budget: the ANN twin pair of
#: ROADMAP item 3, an exact-duplicate and a chunking query (the
#: operators.dedup and operators.curation layers) and one token
#: statistic. The other candidates, and why they were left out, are
#: listed in layers.json.
QUERY_MIX = (
    "ann_cosine_topk", "ann_cosine_topk_vec", "dedup_exact", "doc_chunking",
    "token_topk",
)
#: queries with their own per-layer metrics (construct, execute, jobs)
TARGET_QUERIES = ("ann_cosine_topk", "ann_cosine_topk_vec")

#: rendered container formats (the Tika-class front door's inputs)
FORMATS = ("txt", "html", "pdf", "docx", "odt", "rtf", "doc", "xlsx")
#: formats whose extractor returns the text with whitespace collapsed
COLLAPSED = {"html", "docx", "odt", "rtf", "xlsx"}


def collapse(s: str) -> str:
    return re.sub(r"\s+", " ", s, flags=re.ASCII).strip(" \t\n\r\f\v")


def _documents():
    import pandas as pd

    return pd.read_parquet(os.path.join(DATA_DIR, "documents.parquet"))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path) for f in fs
    )


class Workload:
    """One set of inputs and the operation timed on them."""

    name = ""
    #: operations timed at the least, whatever ``--seconds`` says
    min_ops = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.work = ctx.work
        self.steps: list[float] = []   # step latencies in the timed region
        self.timings: list[dict] = []  # stage timings of each pipeline call
        self.failures: list[str] = []  # failed checks and operations
        self.input_bytes = 1

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, k: int):
        raise NotImplementedError

    def check(self, result) -> None:
        raise NotImplementedError

    def record(self) -> dict:
        """Input sizes, for the run record."""
        return {}


class Ingest(Workload):
    """The paper's batch flow: seed-chosen documents are written into a
    seed-chosen directory tree and go through one cold
    ``plans.ingest.ingest(input_dir=...)`` call per run.

    ``ingest`` writes plain-text files and reads them with
    ``input_ext="txt"``. ``ingest_auto`` renders each document into one
    of eight container formats with the package's own
    ``render_*``/``rtf_render`` functions and reads the tree through
    ``input_ext="auto"``, the Tika-class front door."""

    def __init__(self, ctx, auto: bool):
        super().__init__(ctx)
        self.name = "ingest_auto" if auto else "ingest"
        self.formats = FORMATS if auto else ("txt",)
        self.input_ext = "auto" if auto else "txt"
        self.n_docs = ctx.size(full=40, smoke=8)
        self.source: dict[str, tuple[str, str]] = {}  # file name -> (fmt, text)

    def setup(self) -> None:
        docs = _documents()
        ids = sorted(docs["doc_id"].tolist())
        pick = set(self.ctx.rng.sample(ids, self.n_docs))
        sub = docs[docs["doc_id"].isin(pick)].sort_values("doc_id")
        self._render(sub)
        self.input_bytes = _dir_bytes(self.corpus)

    def _render(self, sub) -> None:
        """Render each document into one container format with the
        package's own ``render_*``/``rtf_render`` functions."""
        import pandas as pd
        from pyspark.sql import functions as F

        from vizlinc_ingester_spark.io import sources as src

        rng = self.ctx.rng
        self.corpus = os.path.join(self.work, "input", "corpus")
        fmts = [self.formats[i % len(self.formats)] for i in range(len(sub))]
        rng.shuffle(fmts)
        rtf = []
        for (doc_id, text), fmt in zip(zip(sub["doc_id"], sub["text"]), fmts):
            d = os.path.join(self.corpus, f"batch{rng.randrange(4)}", fmt)
            os.makedirs(d, exist_ok=True)
            name = f"{doc_id}.{fmt}"
            self.source[name] = (fmt, text)
            path = os.path.join(d, name)
            if fmt == "rtf":
                rtf.append((path, text))
                continue
            if fmt == "txt":
                data = text.encode("utf-8")
            elif fmt == "html":
                esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
                data = (
                    "<html><head><style>p{x:1}</style></head><body>"
                    f"<!-- c --><p>{esc}</p></body></html>"
                ).encode("utf-8")
            elif fmt == "pdf":
                data = src.render_pdf.func(
                    pd.Series([text]), pd.Series([rng.random() < 0.5])
                )[0]
            else:
                data = getattr(src, f"render_{fmt}").func(pd.Series([text]))[0]
            with open(path, "wb") as fh:
                fh.write(data)
        if rtf:
            rows = (
                self.spark.createDataFrame(rtf, "path string, text string")
                .select("path", src.rtf_render(F.col("text")).alias("rtf"))
                .collect()
            )
            for r in rows:
                with open(r["path"], "w", encoding="utf-8") as fh:
                    fh.write(r["rtf"])

    def op(self, k: int):
        from vizlinc_ingester_spark.plans.ingest import ingest

        wd = os.path.join(self.work, f"ingest{k}")
        res = ingest(self.spark, input_dir=self.corpus, input_ext=self.input_ext,
                     work_dir=wd, graphml_path=os.path.join(wd, "sn.graphml"))
        self.timings.append(res.timings)
        self.steps.extend(res.timings.values())
        return wd, res

    def check(self, result) -> None:
        from pyspark.sql import functions as F

        wd, res = result
        missing = set(INGEST_STAGES) - set(res.timings)
        if missing:
            self.fail(f"untimed stages {sorted(missing)}")
        docs = res["documents"].select("name", "text").toPandas()
        if len(docs) != len(self.source):
            self.fail(f"{len(docs)} documents for {len(self.source)} inputs")
        for name, text in zip(docs["name"], docs["text"]):
            fmt, want = self.source.get(name, (None, None))
            got = text
            if fmt in COLLAPSED:
                want, got = collapse(want), collapse(got or "")
            if want is None or got != want:
                self.fail(f"{name}: extracted text differs from its source")
                break
        ents = res["entities"]
        created = {r[0] for r in ents.select("created_by").distinct().collect()}
        for t in ("person", "organization", "location"):
            # strong across-doc entities need a name repeated in two
            # documents, which a 40-document sample need not contain;
            # every within-doc entity still lands in an across-doc one
            # (strong or weak)
            if f"within_doc_{t}_coref" not in created:
                self.fail(f"no within_doc_{t}_coref entities")
            if not {f"across_doc_{t}_coref", f"weak_across_doc_{t}_coref"} & created:
                self.fail(f"no across-doc {t} entities")
        m = res["mentions"].join(
            ents.select("entity_id", F.lit(1).alias("known"))
            .dropDuplicates(["entity_id"]),
            "entity_id", "left",
        ).agg(F.count(F.lit(1)), F.count("known")).first()
        n_mentions, orphans = m[0], m[0] - m[1]
        if orphans:
            self.fail(f"{orphans} orphan mentions")
        de_sum = res["document_entity"].agg(F.sum("num_mentions")).first()[0]
        if n_mentions == 0 or de_sum != n_mentions:
            self.fail(f"document_entity sum {de_sum} != {n_mentions} mentions")
        star = os.path.join(wd, "star")
        want = {"documents", "entities", "mentions", "document_entity", "geolocations"}
        if not os.path.isdir(star) or not want <= set(os.listdir(star)):
            self.fail("star schema tables missing")
        if not os.path.isfile(os.path.join(wd, "sn.graphml")):
            self.fail("GraphML export missing")

    def record(self) -> dict:
        return {"documents": self.n_docs, "files": len(self.source),
                "formats": list(self.formats), "input_ext": self.input_ext,
                "input_bytes": self.input_bytes}


class QueryMix(Workload):
    """A warm analyst session: passes of the query mix, pass-major, each
    in a seed-shuffled order, one closed-loop client, each query forced
    with the noop sink.

    Set-up ends with a checking pass, untimed: every query of the mix is
    collected once and compared with its DuckDB oracle digest. That pass
    also warms the session (JVM start-up and JIT, first-call memo
    builds), so the timed passes measure the warm path: memo hits,
    driver-side construction, hidden jobs and execution."""

    name = "query_mix"
    #: warm passes still speed up pass by pass (the JIT keeps
    #: compiling), so a fixed number of them keeps the median comparable
    #: between runs
    min_ops = 3

    def __init__(self, ctx):
        super().__init__(ctx)
        self.mix = QUERY_MIX
        #: per query: (construct_s, execute_s) of each timed execution
        self.per_query: dict[str, list[tuple[float, float]]] = {}
        self.check_s: dict[str, float] = {}
        self.wrong: set[str] = set()

    def setup(self) -> None:
        from digest import digest

        from vizlinc_ingester_spark.suite import collect_suite

        # queries may stage artifacts next to their inputs: give them a
        # private copy of the tables
        self.sf_dir = os.path.join(self.work, "sf")
        shutil.copytree(DATA_DIR, self.sf_dir)
        self.input_bytes = _dir_bytes(self.sf_dir)
        self.queries, _ = collect_suite()
        with open(DIGESTS) as fh:
            want = json.load(fh)
        order = list(self.mix)
        self.ctx.rng.shuffle(order)
        for name in order:
            t0 = time.perf_counter()
            try:
                got = digest(self.queries[name](self.spark, self.sf_dir).toPandas())
            except Exception as e:  # a failing query fails the check
                got = f"{type(e).__name__}: {e}"[:300]
            self.check_s[name] = time.perf_counter() - t0
            if got != want.get(name):
                self.wrong.add(name)
                self.fail(f"{name}: result {got} != oracle {want.get(name)}")

    def op(self, k: int):
        order = list(self.mix)
        self.ctx.rng.shuffle(order)
        tr = self.ctx.tracer
        span = tr.span if tr is not None else (lambda *a: contextlib.nullcontext())
        for name in order:
            t0 = time.perf_counter()
            with span(f"query.{name}", "suite.query"):
                with span(f"suite.{name}.construct", "suite.construct"):
                    df = self.queries[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            self.per_query.setdefault(name, []).append((t1 - t0, t2 - t1))
            self.steps.append(t2 - t0)
        return order

    def check(self, result) -> None:
        # the checking pass of set-up ran every query of the mix on the
        # same inputs in the same session; a pass fails if any of its
        # queries gave a wrong result there
        bad = sorted(self.wrong & set(result))
        if bad or sorted(result) != sorted(self.mix):
            self.fail(f"pass {result}: wrong results for {bad}")

    def record(self) -> dict:
        return {"queries": list(self.mix), "tables": sorted(
            f[:-8] for f in os.listdir(DATA_DIR) if f.endswith(".parquet")),
            "input_bytes": self.input_bytes, "scale": "sf0.01",
            "check_pass_s": self.check_s,
            "timed_s": {q: [round(c + e, 3) for c, e in v]
                        for q, v in self.per_query.items()}}


#: the first two are the benchmark's (BENCHMARK.json); ingest_auto is
#: run by hand (see layers.json for why)
WORKLOADS = {
    "ingest": lambda ctx: Ingest(ctx, auto=False),
    "query_mix": QueryMix,
    "ingest_auto": lambda ctx: Ingest(ctx, auto=True),
}
