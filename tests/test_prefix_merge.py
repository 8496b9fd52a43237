"""Within-doc coref with firstname-prefix absorption
(combineFirstnameFullname, src/CorefBase.groovy:95-133)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vizlinc_ingester_spark.operators import coref

MENTION_SCHEMA = (
    "mention_id long, doc_id long, type string, text string, idx long,"
    " global_id string, text_start long, text_stop long"
)


def _mentions(spark, rows):
    full = [
        (i + 1, doc, "PERSON", text, i + 1, None, 0, len(text))
        for i, (doc, text) in enumerate(rows)
    ]
    return spark.createDataFrame(full, MENTION_SCHEMA)


def test_unique_prefix_absorbed(spark):
    m = _mentions(spark, [
        (1, "ANA"),                 # prefix of exactly one full name -> absorbed
        (1, "ANA MARIA GOMEZ"),
        (1, "CARLOS RUIZ"),
    ])
    base = coref.within_doc_entities(m, "PERSON", prefix_merge=False)
    assert base.count() == 3
    merged = coref.within_doc_entities(m, "PERSON", prefix_merge=True)
    ents = {r["text"]: r for r in merged.collect()}
    assert len(ents) == 2
    # canonical name: mode is a tie (1 mention each) -> name asc wins
    assert "ANA" in ents and ents["ANA"]["num_mentions"] == 2
    assert ents["CARLOS RUIZ"]["num_mentions"] == 1


def test_ambiguous_prefix_not_absorbed(spark):
    m = _mentions(spark, [
        (1, "JO"),
        (1, "JOSE PEREZ"),
        (1, "JORGE LUNA"),
    ])
    merged = coref.within_doc_entities(m, "PERSON", prefix_merge=True)
    # JO prefixes two names -> stays its own entity
    assert merged.count() == 3


def test_short_prefix_ignored(spark):
    m = _mentions(spark, [
        (1, "A"),                   # < 2 chars: never merged
        (1, "ANA MARIA"),
    ])
    merged = coref.within_doc_entities(m, "PERSON", prefix_merge=True)
    assert merged.count() == 2


def test_prefix_chains_with_adjacent(spark):
    # adjacent-close merges ANA MARIA ~ ANA MARIE (distance 1);
    # prefix then folds ANA into that island -> one entity
    m = _mentions(spark, [
        (1, "ANA MARIA"),
        (1, "ANA MARIE"),
        (1, "ANA"),
        (2, "ANA"),                 # other doc: scope isolation
    ])
    merged = coref.within_doc_entities(m, "PERSON", prefix_merge=True)
    by_doc = {
        (r["doc_id"]): r for r in merged.filter(F.col("doc_id") == 1).collect()
    }
    assert merged.filter(F.col("doc_id") == 1).count() == 1
    assert merged.filter(F.col("doc_id") == 2).count() == 1
    one = merged.filter(F.col("doc_id") == 1).first()
    assert one["num_mentions"] == 3


def test_non_unique_chain_merges_only_last_link(spark):
    # AN prefixes ANNA and ANNABEL (not unique); ANNA prefixes only
    # ANNABEL. Each step is >= 2 edits apart so the adjacent-close pass
    # keeps three islands (AN/ANA/ANAB would already be one island).
    m = _mentions(spark, [(1, "AN"), (1, "ANNA"), (1, "ANNABEL")])
    merged = coref.within_doc_entities(m, "PERSON", prefix_merge=True)
    assert sorted((r["text"], r["num_mentions"]) for r in merged.collect()) == [
        ("AN", 1), ("ANNA", 2),
    ]
    assert _entity_by_mention(m) == _reference_entity_by_mention(m)


def test_empty_input(spark):
    m = spark.createDataFrame([], MENTION_SCHEMA)
    assert coref.within_doc_entities(m, "PERSON", prefix_merge=True).count() == 0
    assert coref.assign_mentions_to_entities(m, "PERSON", prefix_merge=True).count() == 0


def test_one_island_document(spark):
    m = _mentions(spark, [(1, "ANA"), (1, "ANA"), (1, "ANB"), (2, "ZOE")])
    merged = coref.within_doc_entities(m, "PERSON", prefix_merge=True)
    assert sorted((r["doc_id"], r["text"], r["num_mentions"]) for r in merged.collect()) == [
        (1, "ANA", 3), (2, "ZOE", 1),
    ]


def _entity_by_mention(m):
    out = coref.assign_mentions_to_entities(m, "PERSON", prefix_merge=True)
    return {r["mention_id"]: r["entity_id"] for r in out.collect()}


def _reference_entity_by_mention(m):
    """The closure the window form replaces: unique-prefix pairs over
    the island reps, island edges, then the general connected-components
    fixpoint. entity_id = min mention id of the merged component."""
    from pyspark.sql import Window

    from vizlinc_ingester_spark.operators.graph import connected_components

    scope = ["doc_id", "type"]
    islands = coref._islands(
        coref.normalized_mentions(m, "PERSON"), scope, "norm", "mention_id"
    ).withColumn("node", F.col("doc_id") * 1000 + F.col("cluster_seq"))
    names = islands.groupBy(*scope, "node").agg(F.min("norm").alias("norm"))
    pairs = coref.prefix_merge_pairs(names, scope)

    def end(name, node):
        return names.select(*scope, F.col("norm").alias(name), F.col("node").alias(node))

    edges = (
        pairs.join(end("first_name", "src"), [*scope, "first_name"])
        .join(end("full_name", "dst"), [*scope, "full_name"])
        .select("src", "dst")
    )
    comp = islands.join(connected_components(edges), "node", "left").withColumn(
        "component", F.coalesce("component", "node")
    )
    eid = F.min("mention_id").over(Window.partitionBy("component"))
    return {r[0]: r[1] for r in comp.select("mention_id", eid).collect()}


def test_window_merge_equals_connected_components_closure(spark):
    """Property test over a random prefix-rich corpus: the one-window
    prefix merge assigns every mention the same entity as the
    prefix_merge_pairs + connected_components closure. Names are 1-6
    characters over a small alphabet with a space, a digit and a
    non-ASCII letter (Ø: normalize_str folds É to E but keeps Ø), so
    prefix runs, adjacent-close merges, digit mismatches and multi-byte
    sort order all occur."""
    import random
    from collections import Counter

    rng = random.Random(7)
    alphabet = "AAN Ø1"
    rows = [
        (doc, "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6))))
        for doc in range(1, 301)
        for _ in range(rng.randint(1, 8))
    ]
    m = _mentions(spark, rows)
    got = _entity_by_mention(m)
    want = _reference_entity_by_mention(m)
    assert got == want
    ents = coref.within_doc_entities(m, "PERSON", prefix_merge=True).collect()
    prefix_merges = (
        coref.within_doc_entities(m, "PERSON", prefix_merge=False).count() - len(ents)
    )
    assert len(got) > 900 and prefix_merges > 20, (len(got), prefix_merges)
    assert sorted(r["entity_id"] for r in ents) == sorted(set(want.values()))
    assert {r["entity_id"]: r["num_mentions"] for r in ents} == Counter(want.values())
