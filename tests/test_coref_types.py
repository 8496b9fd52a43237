"""Coref over a tuple of entity types: one plan keyed by ``type`` equals
one call per type (the shape ``plans.ingest`` runs)."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from vizlinc_ingester_spark.operators import coref, mentions
from vizlinc_ingester_spark.plans.ingest import COREF_TYPES

MENTION_SCHEMA = (
    "mention_id long, doc_id long, type string, text string, idx long,"
    " global_id string, text_start long, text_stop long"
)


@pytest.fixture(scope="module")
def derived(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return mentions.derive_mentions(docs).localCheckpoint()


def _rows(df):
    return Counter(df.collect())


def _assert_per_type_equal(all_types, per_type):
    """``all_types`` filtered to each type equals that type's own call,
    row for row, and holds no row of another type."""
    total = 0
    for t in COREF_TYPES:
        want = per_type(t)
        assert want.count() > 0, t
        got = all_types.filter(F.col("type") == t).select(*want.columns)
        assert _rows(got) == _rows(want), t
        total += want.count()
    assert all_types.count() == total


def test_within_doc_all_types_equals_per_type(spark, derived):
    _assert_per_type_equal(
        coref.within_doc_entities(derived, COREF_TYPES, prefix_merge=True),
        lambda t: coref.within_doc_entities(derived, t, prefix_merge=True),
    )


def test_assign_all_types_equals_per_type(spark, derived):
    _assert_per_type_equal(
        coref.assign_mentions_to_entities(derived, COREF_TYPES, prefix_merge=True),
        lambda t: coref.assign_mentions_to_entities(derived, t, prefix_merge=True),
    )


def test_across_doc_all_types_equals_per_type(spark, derived):
    _assert_per_type_equal(
        coref.across_doc_entities(derived, COREF_TYPES),
        lambda t: coref.across_doc_entities(derived, t),
    )


def test_membership_all_types_equals_per_type(spark, derived):
    _assert_per_type_equal(
        coref.across_doc_membership(derived, COREF_TYPES),
        lambda t: coref.across_doc_membership(derived, t),
    )


def test_assignment_equals_join_definition(spark, derived):
    """The window-derived assignment equals J7 as defined: each
    clustered mention joined to its within-doc entity on (doc_id, type,
    cluster_seq)."""
    keys = ["doc_id", "type", "cluster_seq"]
    clusters = coref.within_doc_clusters(derived, COREF_TYPES, prefix_merge=True)
    entities = coref.within_doc_entities(derived, COREF_TYPES, prefix_merge=True)
    want = clusters.drop("entity_id").join(
        entities.select(*keys, "entity_id"), keys
    ).select(*coref.ASSIGNED_COLS)
    got = coref.assign_mentions_to_entities(derived, COREF_TYPES, prefix_merge=True)
    n = coref.normalized_mentions(derived, COREF_TYPES).count()
    assert got.count() == want.count() == n > 0
    assert _rows(got) == _rows(want)


def test_membership_equals_join_definition(spark, derived):
    """The window-derived membership equals the rewiring as defined:
    the strong within-doc entities clustered by the sorted-neighborhood
    build, each cluster's member count and min entity id by a groupBy,
    clusters with >= MIN_NUM_DOCS members kept and joined back to their
    members."""
    from vizlinc_ingester_spark.operators.neighborhood import (
        sorted_neighborhood_clusters,
    )

    keys = ["type", "strong", "cluster_id"]
    strong = (
        coref.within_doc_entities(derived, COREF_TYPES)
        .withColumnRenamed("text", "norm")
        .withColumn("strong", coref.is_strong_candidate(F.col("norm"), COREF_TYPES))
        .filter(F.col("strong"))
        .drop("cluster_seq")
    )
    clustered = sorted_neighborhood_clusters(
        strong, ["type", "strong"], "norm", "entity_id"
    )
    surviving = (
        clustered.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("num_members"),
            F.min("entity_id").alias("across_entity_id"),
        )
        .filter(F.col("num_members") >= coref.MIN_NUM_DOCS)
    )
    want = clustered.join(surviving, keys).select(
        "doc_id",
        F.col("entity_id").alias("within_entity_id"),
        F.col("across_entity_id").cast("long"),
        "type",
    )
    got = coref.across_doc_membership(derived, COREF_TYPES)
    assert got.count() == want.count() > 0
    assert _rows(got) == _rows(want)


def _mentions(spark, rows):
    full = [
        (i + 1, doc, etype, text, i + 1, None, 0, len(text))
        for i, (doc, etype, text) in enumerate(rows)
    ]
    return spark.createDataFrame(full, MENTION_SCHEMA)


def test_assignment_joins_on_type(spark):
    # one island of each type in doc 1: both have cluster_seq 1, so a
    # (doc_id, cluster_seq) join key would pair each mention with both
    # entities
    m = _mentions(spark, [(1, "PERSON", "ANA RUIZ"), (1, "ORGANIZATION", "ACME")])
    out = coref.assign_mentions_to_entities(m, COREF_TYPES, prefix_merge=True)
    assert sorted((r["mention_id"], r["type"], r["entity_id"]) for r in out.collect()) == [
        (1, "PERSON", 1), (2, "ORGANIZATION", 2),
    ]


def test_prefix_merge_is_person_only(spark):
    m = _mentions(spark, [
        (1, "ORGANIZATION", "AC"),
        (1, "ORGANIZATION", "ACME CORP"),
        (1, "PERSON", "ANA"),
        (1, "PERSON", "ANA MARIA"),
    ])
    merged = coref.within_doc_entities(m, COREF_TYPES, prefix_merge=True)
    assert sorted((r["type"], r["text"], r["num_mentions"]) for r in merged.collect()) == [
        ("ORGANIZATION", "AC", 1), ("ORGANIZATION", "ACME CORP", 1), ("PERSON", "ANA", 2),
    ]
    org = coref.within_doc_entities(m, "ORGANIZATION", prefix_merge=True)
    assert org.count() == 2
    created = {(r["type"], r["created_by"]) for r in merged.collect()}
    assert created == {
        ("ORGANIZATION", "within_doc_organization_coref"),
        ("PERSON", "within_doc_person_coref"),
    }
