"""Incremental MinHash-LSH dedup at ingest (training-data pipeline ×
streaming).

Batch dedup (operators/dedup.py) recomputes signatures for the whole
corpus per run; at ingest scale the right shape is incremental: each
micro-batch hashes only NEW documents, appends their signatures and
band rows to a store, and generates candidates by joining the new
docs' bands against the full band store — so every near-dup pair is
emitted exactly once, in the batch where its LATER member arrives.
Per-batch work is O(new_docs × bands + collisions), never O(corpus).

Stores (parquet under work_dir): ``hs`` (doc_id, hs array — for exact
Jaccard verification), ``bands`` (doc_id, band_key), ``near_dups``
(verified pairs, appended per batch).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dd
from .ingest import idempotent_append, read_accumulated, stream_documents


def _find_new_pairs(
    spark: SparkSession, batch_docs: DataFrame, work_dir: str, batch_id: int
) -> DataFrame | None:
    hs_path = os.path.join(work_dir, "hs")
    bands_path = os.path.join(work_dir, "bands")

    hs_new = dd.hashed_shingle_docs(batch_docs).persist()
    if hs_new.isEmpty():
        hs_new.unpersist()
        return None
    idempotent_append(hs_new, batch_id, hs_path)
    bands_new = dd.lsh_band_buckets(dd.minhash_from_hashed(hs_new)).persist()
    idempotent_append(bands_new, batch_id, bands_path)

    band_all = read_accumulated(spark, bands_path)
    joined = band_all.alias("a").join(
        bands_new.alias("b"),
        (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    )
    pairs = (
        joined.select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            F.col("a.band_key").alias("band_key"),
        )
        .dropDuplicates(["doc_a", "doc_b", "band_key"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
    )
    # drop pairs whose BOTH members are old (their collision was
    # already emitted when the later one arrived)
    new_ids = hs_new.select(F.col("doc_id").alias("nid"))
    pairs = pairs.join(
        new_ids,
        (pairs["doc_a"] == new_ids["nid"]) | (pairs["doc_b"] == new_ids["nid"]),
        "left_semi",
    )
    hs_all = read_accumulated(spark, hs_path)
    verified = dd.jaccard_verify_hashed(hs_all, pairs)
    out = verified.persist()
    out.count()
    hs_new.unpersist()
    bands_new.unpersist()
    return out


def incremental_dedup(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    available_now: bool = True,
):
    """readStream(.txt docs) -> per-batch signature append + LSH
    candidate join + exact-Jaccard verify -> append to near_dups.

    Returns the started StreamingQuery. Every emitted pair is verified
    (true Jaccard over hashed shingles), matching the batch operator's
    output schema exactly.
    """
    return incremental_dedup_stream(
        spark, stream_documents(spark, input_dir), work_dir,
        available_now=available_now,
    )


def incremental_dedup_stream(
    spark: SparkSession,
    source: DataFrame,
    work_dir: str,
    available_now: bool = True,
):
    """Source-agnostic form of :func:`incremental_dedup`: ``source``
    is any STREAMING DataFrame carrying (doc_id, text) — the txt
    file-ingest path above, a staged parquet stream (the oracle-gated
    suite query), or in production a Kafka topic projection."""
    dups_path = os.path.join(work_dir, "near_dups")
    docs_path = os.path.join(work_dir, "documents")
    checkpoint = os.path.join(work_dir, "_ck_dedup")

    def process_batch(batch_docs: DataFrame, batch_id: int) -> None:
        if batch_docs.isEmpty():
            return
        idempotent_append(batch_docs, batch_id, docs_path)
        pairs = _find_new_pairs(spark, batch_docs, work_dir, batch_id)
        if pairs is not None:
            idempotent_append(pairs, batch_id, dups_path)
            pairs.unpersist()

    writer = source.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
