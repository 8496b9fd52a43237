"""Incremental MinHash dedup == batch MinHash dedup on the same
corpus (streaming/dedup.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from vizlinc_ingester_spark.operators import dedup as dd
from vizlinc_ingester_spark.streaming import dedup as sdedup


def test_incremental_matches_batch(spark, sf_dir, tmp_path):
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .collect()
    )
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    work = str(tmp_path / "work")

    # wave 1: ~60% of docs
    cut = int(len(docs) * 0.6)
    for r in docs[:cut]:
        (corpus / f"doc{r['doc_id']}.txt").write_text(r["text"])
    q1 = sdedup.incremental_dedup(spark, str(corpus), work)
    q1.awaitTermination(240)

    # wave 2: the rest
    for r in docs[cut:]:
        (corpus / f"doc{r['doc_id']}.txt").write_text(r["text"])
    q2 = sdedup.incremental_dedup(spark, str(corpus), work)
    q2.awaitTermination(240)

    got_df = spark.read.parquet(os.path.join(work, "near_dups"))
    accumulated = spark.read.parquet(os.path.join(work, "documents"))
    assert accumulated.count() == len(docs)

    want_df = dd.minhash_lsh_verified(accumulated)
    cols = ["doc_a", "doc_b", "n_shared_bands", "n_inter", "n_union", "jaccard_micro"]
    got = sorted(map(tuple, got_df.select(cols).collect()))
    want = sorted(map(tuple, want_df.select(cols).collect()))
    assert len(want) > 0, "fixture produced no near-dup pairs at all"
    assert got == want
    # no pair emitted twice across batches
    assert got_df.select("doc_a", "doc_b").distinct().count() == got_df.count()


def test_streaming_lsh_insert_equals_batch_banding(spark, sf_dir):
    """The incrementally-maintained banded store (collapse-first
    per-batch fold, additive posting sizes), finalized to the
    per-document index, must equal the one-shot batch banding algebra
    over all-corpus signatures — the sufficient-statistic claim of
    the 14th streaming execution, pinned engine-side (the oracle pins
    it cross-engine)."""
    import os

    from pyspark.sql import functions as F

    import vizlinc_ingester_spark.operators.dedup as dd
    from vizlinc_ingester_spark.suite.streaming_q import (
        q_streaming_lsh_insert,
    )

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    sigs = dd.minhash_signatures(docs)
    bands = dd.lsh_band_buckets(sigs)
    sizes = bands.groupBy("band_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_bucket")
    )
    batch = sorted(
        map(
            tuple,
            bands.join(sizes, "band_key")
            .select("doc_id", "band_key", "n_bucket")
            .collect(),
        )
    )
    stream = sorted(map(tuple, q_streaming_lsh_insert(spark, sf_dir).collect()))
    assert batch == stream


def test_staged_halves_reuse_fresh_checkpoint(spark, sf_dir):
    """r12: streaming queries share a MEMOIZED staging dir but must
    take a FRESH checkpoint per invocation — a reused checkpoint
    replays no files and would finalize an empty store. Pin by
    invoking one staged streaming gate twice in one session: both
    runs must produce the full (identical) result."""
    from vizlinc_ingester_spark.suite.streaming_q import q_streaming_lm_kn

    a = sorted(map(tuple, q_streaming_lm_kn(spark, sf_dir).collect()))
    b = sorted(map(tuple, q_streaming_lm_kn(spark, sf_dir).collect()))
    assert a and a == b


def test_streaming_lsh_compact_equals_batch_store(spark, sf_dir):
    """Compacting the per-batch append-only store must erase every
    trace of the batch boundaries: the compacted (doc_id, rep,
    band_key, n_members) index equals the ONE-SHOT batch index built
    with global signature collapse — min-doc_id rep chosen globally,
    member counts summed across batches, postings merged (the 15th
    streaming execution's engine-side pin; the oracle pins the same
    equality cross-engine)."""
    import os

    from pyspark.sql import functions as F

    import vizlinc_ingester_spark.operators.dedup as dd
    from vizlinc_ingester_spark.suite.streaming_q import (
        q_streaming_lsh_compact,
    )

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    sigs = dd.minhash_signatures(docs)
    mh_cols = [f"mh{i}" for i in range(dd.N_PERMS)]
    reps = sigs.groupBy(*mh_cols).agg(
        F.min("doc_id").alias("rep"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    rbands = dd.lsh_band_buckets(
        reps.select(F.col("rep").alias("doc_id"), *mh_cols)
    ).withColumnRenamed("doc_id", "rep")
    assign = sigs.join(reps.select(*mh_cols, "rep"), mh_cols).select(
        "doc_id", "rep"
    )
    batch = sorted(
        map(
            tuple,
            assign.join(rbands, "rep")
            .join(reps.select("rep", "n_members"), "rep")
            .select("doc_id", "rep", "band_key", "n_members")
            .collect(),
        )
    )
    compacted = sorted(
        map(tuple, q_streaming_lsh_compact(spark, sf_dir).collect())
    )
    assert batch and batch == compacted


def test_streaming_lsh_compact_reads_store_not_corpus(spark, sf_dir):
    """The property that makes periodic compaction affordable at
    100 TB: it re-collapses representatives purely ON THE STORE (a
    rep's ordered band-key list IS its signature), so once the
    streamed store exists, the compaction plan must scan ONLY the
    store parquet — no documents scan, no re-shingling (no Arrow
    crossing at all: the whole compaction is JVM-side relational
    algebra)."""
    from vizlinc_ingester_spark.suite.streaming_q import (
        q_streaming_lsh_compact,
    )

    # first call builds (and memoizes) the streamed store
    q_streaming_lsh_compact(spark, sf_dir).count()
    # second call must plan against the store alone
    plan = (
        q_streaming_lsh_compact(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "vl_stream_lsh_store_" in plan
    assert "documents.parquet" not in plan, plan[:4000]
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" not in plan


def test_compact_lsh_store_is_batch_count_agnostic(spark, sf_dir):
    """The compaction algebra must hold for ANY batch count, not just
    the 2-batch staging harness: fold the corpus as FOUR per-batch
    stores (doc_id % 4 slices, each collapsed independently — a
    signature spanning k batches carries k reps), compact, and
    require equality with the one-shot global-collapse index."""
    import os

    from pyspark.sql import functions as F

    import vizlinc_ingester_spark.operators.dedup as dd
    from vizlinc_ingester_spark.suite.streaming_q import compact_lsh_store

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    mh_cols = [f"mh{i}" for i in range(dd.N_PERMS)]

    bands_parts, members_parts = [], []
    for b in range(4):
        sigs = dd.minhash_signatures(docs.filter(F.col("doc_id") % 4 == b))
        reps = sigs.groupBy(*mh_cols).agg(
            F.min("doc_id").alias("rep"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        bands_parts.append(
            dd.lsh_band_buckets(
                reps.select(F.col("rep").alias("doc_id"), *mh_cols)
            )
            .withColumnRenamed("doc_id", "rep")
            .join(reps.select("rep", "n_members"), "rep")
        )
        members_parts.append(
            sigs.join(reps.select(*mh_cols, "rep"), mh_cols).select(
                "rep", "doc_id"
            )
        )
    bands = bands_parts[0]
    members = members_parts[0]
    for bp, mp in zip(bands_parts[1:], members_parts[1:]):
        bands = bands.unionByName(bp)
        members = members.unionByName(mp)
    compacted = sorted(
        map(tuple, compact_lsh_store(bands, members).collect())
    )

    sigs_all = dd.minhash_signatures(docs)
    reps_all = sigs_all.groupBy(*mh_cols).agg(
        F.min("doc_id").alias("rep"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    rbands = dd.lsh_band_buckets(
        reps_all.select(F.col("rep").alias("doc_id"), *mh_cols)
    ).withColumnRenamed("doc_id", "rep")
    assign = sigs_all.join(reps_all.select(*mh_cols, "rep"), mh_cols).select(
        "doc_id", "rep"
    )
    one_shot = sorted(
        map(
            tuple,
            assign.join(rbands, "rep")
            .join(reps_all.select("rep", "n_members"), "rep")
            .select("doc_id", "rep", "band_key", "n_members")
            .collect(),
        )
    )
    assert one_shot and compacted == one_shot


def test_staged_halves_restages_after_reaper(spark, sf_dir):
    """ADVICE r12: if a tmp reaper removes a memoized staging dir
    mid-session, the memo must re-stage instead of serving the dead
    path (which failed every staged streaming query until restart).
    Pin by deleting the staging dir between two invocations of a
    staged streaming gate: the second run must still produce the full
    result, from a freshly staged dir."""
    import os
    import shutil

    from vizlinc_ingester_spark.suite.streaming_q import (
        _staged_halves,
        q_streaming_lm_kn,
    )

    a = sorted(map(tuple, q_streaming_lm_kn(spark, sf_dir).collect()))
    # reach the same memoized staging path the query used and kill it
    raw = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    stage = _staged_halves(spark, raw, "kn", "doc_id")
    shutil.rmtree(stage)
    b = sorted(map(tuple, q_streaming_lm_kn(spark, sf_dir).collect()))
    assert a and a == b
