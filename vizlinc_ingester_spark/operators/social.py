"""Social-network construction and filtering (G2/J2/J3/A7/F8/F9/J8).

Reference: src/SocialNetworkDCO.groovy:50-84 — for every document,
every unordered pair of distinct person entities co-occurring in it,
weighted by the number of shared documents; then
src/SNGephiGraphML.groovy:14-15,52-84 filters nodes and edges with
``num_docs >= 2`` keeping edges only between kept nodes.

Spark design: the per-document nested pair loop becomes a self
equi-join on ``doc_id`` with an ``a.entity < b.entity`` theta
predicate; insert-or-increment edge bookkeeping (J3) collapses into
``groupBy(src, dst).agg(countDistinct(doc))``. At 100 TB the join key
(doc_id) is the blocking axis — per-doc person lists are bounded, so
the self-join is skew-safe under AQE; no global state is ever held.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NODE_MIN_NUM_DOCS = 2  # src/SNGephiGraphML.groovy:14
EDGE_MIN_NUM_DOCS = 2  # src/SNGephiGraphML.groovy:15


def doc_entity_pairs(doc_entities: DataFrame) -> DataFrame:
    """J2 — per-document unordered entity pairs.

    doc_entities: (doc_id, entity_id) — pre-deduplicated (A9).
    """
    a = doc_entities.alias("a")
    b = doc_entities.alias("b")
    return a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.entity_id") < F.col("b.entity_id")),
    ).select(
        F.col("a.doc_id").alias("doc_id"),
        F.col("a.entity_id").alias("src_entity_id"),
        F.col("b.entity_id").alias("dst_entity_id"),
    )


def social_network(doc_entities: DataFrame) -> DataFrame:
    """G2/A7 — person-person edges weighted by shared-doc count."""
    return (
        doc_entity_pairs(doc_entities)
        .groupBy("src_entity_id", "dst_entity_id")
        .agg(F.countDistinct("doc_id").cast("long").alias("num_docs"))
    )


def filter_social_network(edges: DataFrame, node_num_docs: DataFrame) -> DataFrame:
    """F8/F9/J8 — keep edges with num_docs >= EDGE_MIN_NUM_DOCS whose
    both endpoints have node num_docs >= NODE_MIN_NUM_DOCS (double
    left-semi join).

    node_num_docs: (entity_id, num_docs).
    """
    kept = node_num_docs.filter(F.col("num_docs") >= NODE_MIN_NUM_DOCS).select("entity_id")
    return (
        edges.filter(F.col("num_docs") >= EDGE_MIN_NUM_DOCS)
        .join(kept.withColumnRenamed("entity_id", "src_entity_id"), "src_entity_id", "left_semi")
        .join(kept.withColumnRenamed("entity_id", "dst_entity_id"), "dst_entity_id", "left_semi")
        .select("src_entity_id", "dst_entity_id", "num_docs")
    )
