"""The training-data curation pipeline as one plan — the LLM-track
sibling of ``plans/ingest.py`` (which mirrors the reference's 10-step
``Ingester.ingest``, src/Ingester.groovy:101-194; this plan composes
the operators the reference never had but a 100 TB training-data user
runs between "crawled corpus" and "training shards").

Stages, each a lazy DataFrame plan checkpointed to ``work_dir``
parquet (restartable; each checkpoint is a shuffle-free scan for the
next stage) and timed like the reference's ``runStep``:

1. quality     — heuristic quality score, drop the low tail
2. exact_dedup — content-hash groups, keep min doc_id
3. near_dedup  — MinHash/LSH verified clusters, keep cluster min
4. decontam    — exact n-gram overlap with the benchmark set, drop
5. manifest    — seeded shuffle order + split + shard ids
6. shards      — shard-partitioned parquet + per-shard summary

Every stage reuses the SAME operator the oracle-gated suite query
runs (quality_score_micro, exact_duplicates, minhash_lsh_verified +
connected_components, doc_ngrams/decontaminate_scores,
training_manifest_for, write_training_shards), so the pipeline's
semantics are transitively hash-proven; the pipeline test asserts
the funnel counts reconcile stage by stage.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import quality_score_micro
from ..operators import dedup as dd
from ..operators.curation import DECON_N, decontaminate_scores, doc_ngrams
from ..operators.graph import connected_components
from . import checkpoint

#: drop documents below this heuristic quality (micro-units)
QUALITY_MIN_MICRO = 200_000
#: near-dup cluster threshold (same as the gated dedup_clusters query)
DUP_THRESH_MICRO = 600_000
#: benchmark membership (same self-deriving rule as the decon queries)
BENCH_MOD = 97
#: drop a doc if this many of its n-grams appear in the benchmark set
DECON_MAX_TAINTED = 0


class CurateResult(dict):
    """Tables + per-stage wall-clock seconds + the doc-count funnel."""

    def __init__(self):
        super().__init__()
        self.timings: dict[str, float] = {}
        self.funnel: dict[str, int] = {}


def curate_corpus(
    spark: SparkSession,
    documents: DataFrame,
    work_dir: str,
    shards_dir: str | None = None,
) -> CurateResult:
    """documents(doc_id, text) -> curated manifest (+ optional shard
    write). Returns ``CurateResult`` with tables ``survivors``,
    ``manifest``, ``shard_summary`` (if written), per-stage timings,
    and the funnel of surviving doc counts."""
    res = CurateResult()
    os.makedirs(work_dir, exist_ok=True)

    def step(name: str, fn):
        t0 = time.monotonic()
        out = fn()
        res.timings[name] = round(time.monotonic() - t0, 3)
        return out

    d0 = documents.select("doc_id", "text")
    res.funnel["input"] = d0.count()

    # 1. quality: scan-stage score, drop the low tail
    def quality():
        kept = d0.filter(
            quality_score_micro(F.col("text")) >= QUALITY_MIN_MICRO
        )
        return checkpoint(kept, os.path.join(work_dir, "q1_quality"))

    d1 = step("quality", quality)
    res.funnel["quality"] = d1.count()

    # 2. exact dedup: keep each content group's min doc_id
    def exact():
        groups = dd.exact_duplicates(d1)  # (content_md5, n_dups, keep)
        drops = (
            d1.select("doc_id", F.md5("text").alias("content_md5"))
            .join(F.broadcast(groups), "content_md5")
            .filter(F.col("doc_id") != F.col("keep_doc_id"))
            .select("doc_id")
        )
        kept = d1.join(drops, "doc_id", "left_anti")
        return checkpoint(kept, os.path.join(work_dir, "q2_exact"))

    d2 = step("exact_dedup", exact)
    res.funnel["exact_dedup"] = d2.count()

    # 3. near dedup: verified LSH clusters, keep cluster min
    def near():
        pairs = dd.minhash_lsh_verified(d2).filter(
            F.col("jaccard_micro") >= DUP_THRESH_MICRO
        )
        cc = connected_components(
            pairs.select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            )
        )
        drops = cc.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
        kept = d2.join(drops, "doc_id", "left_anti")
        return checkpoint(kept, os.path.join(work_dir, "q3_near"))

    d3 = step("near_dedup", near)
    res.funnel["near_dedup"] = d3.count()

    # 4. decontamination: exact n-gram overlap with the benchmark set
    def decon():
        bench_grams = doc_ngrams(
            d3.filter(F.col("doc_id") % BENCH_MOD == 0), DECON_N
        )
        train = d3.filter(F.col("doc_id") % BENCH_MOD != 0)
        tainted = (
            decontaminate_scores(train, bench_grams, DECON_N)
            .filter(F.col("n_tainted_grams") > DECON_MAX_TAINTED)
            .select("doc_id")
        )
        kept = train.join(tainted, "doc_id", "left_anti")
        return checkpoint(kept, os.path.join(work_dir, "q4_decon"))

    d4 = step("decontam", decon)
    res.funnel["decontam"] = d4.count()
    res["survivors"] = d4

    # 5. manifest: seeded shuffle order + split + shards
    from ..suite.curation import training_manifest_for

    def manifest():
        m = training_manifest_for(
            d4.select("doc_id", F.length("text").cast("long").alias("n_chars"))
        )
        return checkpoint(m, os.path.join(work_dir, "q5_manifest"))

    res["manifest"] = step("manifest", manifest)
    res.funnel["manifest"] = res["manifest"].count()

    # 6. shard write (optional)
    if shards_dir is not None:
        from ..io.sinks import write_training_shards

        def shards():
            return write_training_shards(res["manifest"], d4, shards_dir)

        res["shard_summary"] = step("shards", shards)

    return res
