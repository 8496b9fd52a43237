"""Graph analytics over the social network (extension track).

The reference stops at building the person-person co-occurrence graph
and filtering it by degree (src/SocialNetworkDCO.groovy:50-84,
src/SNGephiGraphML.groovy:40-102). A user of that graph immediately
wants the classic analyses on top: degree centrality, triangle/
clustering structure, and PageRank-style importance. Each is
expressed as pure DataFrame ops over the ``sn_edges`` table and
hash-checked against a DuckDB oracle.

Determinism note: PageRank is computed in **int64 fixed-point**
(scale 1e12, integer division everywhere). Integer arithmetic is
associative/commutative, so partial aggregation order — Spark's
parallel hash agg vs DuckDB's sequential agg — cannot change a
single bit, which makes an iterative numeric algorithm safe under
the order-insensitive value-hash gate. (A double-precision PageRank
can never be cross-engine hash-stable: FP addition is
order-sensitive and the error compounds per iteration.)

Scale notes (100 TB design point):
- Degrees: one shuffle on entity_id; map-side combine applies.
- Triangles: the wedge join is keyed on the shared vertex and the
  closing check on (a, c) — both equi-joins, no theta join. At
  scale, degree-ordering the edge list (orient edges low-degree ->
  high-degree) bounds the wedge fan-out by the graph's arboricity;
  here edges are already id-oriented (src < dst) which matches the
  reference's pair generation (SocialNetworkDCO.groovy:63-78).
- PageRank: each iteration is contribution-join + sum keyed on the
  vertex id — the standard Pregel-style plan. The edge table is
  persisted once and reused; ranks stay (vertex, long) rows. On a
  real cluster the edge table would be bucketed by vertex id so no
  iteration re-shuffles the edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import oracle
from ..operators import social
from .vizlinc import PERSON, _stage, person_doc_entities

PR_SCALE = 10**12
PR_ITERS = 6
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an integer ratio


def sn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Social-network edge list (src < dst, weight = num_docs),
    persisted per session: the three graph queries re-read it."""
    return _stage(
        spark, sf_dir, "sn_edges",
        lambda: social.social_network(person_doc_entities(spark, sf_dir)),
    )


def _bi(e: DataFrame) -> DataFrame:
    """Undirected edge list -> both-direction adjacency rows."""
    return e.select(
        F.col("src_entity_id").alias("u"), F.col("dst_entity_id").alias("v"),
        "num_docs",
    ).unionAll(
        e.select(
            F.col("dst_entity_id").alias("u"),
            F.col("src_entity_id").alias("v"),
            "num_docs",
        )
    )


def q_sn_degrees(spark, sf_dir):
    """Degree + weighted degree (sum of shared-doc counts) per person
    node — degree centrality, the direct generalization of the
    reference's num_docs >= 2 node filter (SNGephiGraphML.groovy:52)."""
    bi = _bi(sn_edges(spark, sf_dir))
    return bi.groupBy(F.col("u").alias("entity_id")).agg(
        F.count(F.lit(1)).cast("long").alias("degree"),
        F.sum("num_docs").cast("long").alias("weighted_degree"),
    )


ORACLE_DEGREES = oracle.wrap(
    """
SELECT u AS entity_id, CAST(count(*) AS BIGINT) AS degree,
       CAST(sum(num_docs) AS BIGINT) AS weighted_degree
FROM (SELECT src_entity_id AS u, num_docs FROM sn_edges
      UNION ALL SELECT dst_entity_id AS u, num_docs FROM sn_edges) b
GROUP BY u
""",
    PERSON,
)


def q_sn_triangles(spark, sf_dir):
    """Triangle enumeration (a < b < c). Because every stored edge is
    id-oriented (src < dst), wedge join (a,b)x(b,c) already yields
    a < b < c exactly once; the left-semi against (a,c) closes it."""
    e = sn_edges(spark, sf_dir).select("src_entity_id", "dst_entity_id")
    ab = e.select(F.col("src_entity_id").alias("a"), F.col("dst_entity_id").alias("b"))
    bc = e.select(F.col("src_entity_id").alias("b"), F.col("dst_entity_id").alias("c"))
    ac = e.select(F.col("src_entity_id").alias("a"), F.col("dst_entity_id").alias("c"))
    return ab.join(bc, "b").join(ac, ["a", "c"], "left_semi").select("a", "b", "c")


ORACLE_TRIANGLES = oracle.wrap(
    """
SELECT e1.src_entity_id AS a, e1.dst_entity_id AS b, e2.dst_entity_id AS c
FROM sn_edges e1
JOIN sn_edges e2 ON e1.dst_entity_id = e2.src_entity_id
JOIN sn_edges e3 ON e3.src_entity_id = e1.src_entity_id
               AND e3.dst_entity_id = e2.dst_entity_id
""",
    PERSON,
)


def q_sn_pagerank(spark, sf_dir):
    """Fixed-point integer PageRank: PR_ITERS synchronous iterations,
    damping PR_DAMP_NUM/PR_DAMP_DEN, rank mass scaled by PR_SCALE
    (int64 throughout; see module docstring for why that makes an
    iterative numeric algorithm hash-exact across engines)."""
    bi = _bi(sn_edges(spark, sf_dir)).select("u", "v")
    deg = bi.groupBy(F.col("u").alias("entity_id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    # One scalar driver-side count: the vertex count parameterizes the
    # teleport term. (At 100 TB this is one cheap count on a persisted
    # 1-column table, not a per-row collect.)
    n = deg.count()
    base = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * n)
    ranks = deg.select(
        "entity_id", F.lit(PR_SCALE // n).cast("long").alias("rank")
    )
    for _ in range(PR_ITERS):
        share = ranks.join(deg, "entity_id").select(
            F.col("entity_id").alias("u"),
            F.expr("rank div deg").cast("long").alias("share"),
        )
        s = (
            share.join(bi, "u")
            .groupBy(F.col("v").alias("entity_id"))
            .agg(F.sum("share").cast("long").alias("s"))
        )
        ranks = (
            deg.select("entity_id")
            .join(s, "entity_id", "left")
            .select(
                "entity_id",
                (
                    F.lit(base)
                    + F.expr(
                        f"({PR_DAMP_NUM} * coalesce(s, 0L)) div {PR_DAMP_DEN}"
                    )
                ).cast("long").alias("rank"),
            )
        )
    return ranks.select("entity_id", F.col("rank").alias("rank_scaled"))


def _pagerank_oracle() -> str:
    # Each r{i+1} reads r{i}, deg and bi; if the planner inlines CTEs
    # the tree re-expands every earlier round (and the coref prelude
    # under sn_edges) per round — DuckDB ran out of memory planning
    # the 6-round form. MATERIALIZED pins each CTE once, as in
    # _kcore_oracle.
    parts = [
        f"""
bi AS MATERIALIZED (
       SELECT src_entity_id AS u, dst_entity_id AS v FROM sn_edges
       UNION ALL SELECT dst_entity_id AS u, src_entity_id AS v FROM sn_edges),
deg AS MATERIALIZED (
       SELECT u AS entity_id, CAST(count(*) AS BIGINT) AS deg FROM bi GROUP BY u),
nn AS MATERIALIZED (SELECT count(*) AS c FROM deg),
r0 AS MATERIALIZED (SELECT entity_id, CAST({PR_SCALE} // c AS BIGINT) AS rank
       FROM deg CROSS JOIN nn)"""
    ]
    for i in range(PR_ITERS):
        parts.append(
            f"""
r{i + 1} AS MATERIALIZED (
  SELECT d.entity_id,
         CAST(({PR_SCALE} * {PR_DAMP_DEN - PR_DAMP_NUM}) // ({PR_DAMP_DEN} * nn.c)
              + ({PR_DAMP_NUM} * coalesce(cb.s, 0)) // {PR_DAMP_DEN}
              AS BIGINT) AS rank
  FROM deg d CROSS JOIN nn
  LEFT JOIN (
    SELECT b.v AS entity_id, CAST(sum(r.rank // dg.deg) AS BIGINT) AS s
    FROM r{i} r
    JOIN deg dg USING (entity_id)
    JOIN bi b ON b.u = r.entity_id
    GROUP BY b.v
  ) cb ON cb.entity_id = d.entity_id
)"""
        )
    final = f"\nSELECT entity_id, rank AS rank_scaled FROM r{PR_ITERS}"
    return "," + ",".join(parts) + final


ORACLE_PAGERANK = oracle.wrap(_pagerank_oracle(), PERSON)


def q_sn_triangles_degree(spark, sf_dir):
    """Degree-oriented triangle enumeration
    (operators/graph.py::triangles) — the skew-proof 100 TB
    formulation: wedge fan-out bounded by arboricity instead of max
    degree. Canonical (a,b,c) output makes it hash-identical to the
    id-oriented plan, so BOTH share the exhaustive oracle — the match
    proves the orientation trick loses/duplicates no triangle."""
    from ..operators.graph import triangles

    e = sn_edges(spark, sf_dir).select(
        F.col("src_entity_id").alias("src"), F.col("dst_entity_id").alias("dst")
    )
    return triangles(e)


QUERIES = {
    "sn_degrees": q_sn_degrees,
    "sn_triangles": q_sn_triangles,
    "sn_triangles_degree": q_sn_triangles_degree,
    "sn_pagerank": q_sn_pagerank,
}

ORACLES = {
    "sn_degrees": ORACLE_DEGREES,
    "sn_triangles": ORACLE_TRIANGLES,
    "sn_triangles_degree": ORACLE_TRIANGLES,
    "sn_pagerank": ORACLE_PAGERANK,
}


# --- k-core decomposition (round 6) ----------------------------------------

KCORE_K = 2
KCORE_ROUNDS = 4  # synchronous peel rounds (fixpoint at test SFs; see note)


def q_sn_kcore(spark, sf_dir):
    """k-core peeling: KCORE_ROUNDS synchronous rounds of "drop every
    node whose degree in the surviving subgraph is < K" — the dense-
    substructure filter (community cores, spam/bot rings) that sits
    one level above the reference's static num_docs degree filter
    (src/SNGephiGraphML.groovy:52). Output: surviving nodes with
    their degree inside the final subgraph.

    Both engines run EXACTLY the same fixed round count (the oracle
    unrolls them as CTEs, the PageRank discipline), so the output is
    well-defined whether or not the peel has converged; at the test
    SFs round KCORE_ROUNDS is a verified fixpoint
    (tests/test_sketches.py asserts one more round changes nothing).
    At 100 TB the driver loops until a cheap count() of dropped
    nodes hits zero — same per-round plan, data-dependent round
    count.

    Plan: each round is one semi-join of the edge list against the
    surviving node set (keyed on the node id, both directions) + a
    degree count — no pair space, no driver data beyond the loop
    counter."""
    # The node set is referenced twice per round (both semi-join
    # sides), so without truncation the logical plan doubles per
    # round (2^ROUNDS copies of the full coref DAG behind sn_edges —
    # an analysis-time OOM). localCheckpoint per round cuts the
    # lineage, the connected_components discipline (operators/
    # graph.py:15).
    bi = _bi(sn_edges(spark, sf_dir)).select("u", "v").localCheckpoint()
    nodes = bi.select(F.col("u").alias("entity_id")).distinct()
    for _ in range(KCORE_ROUNDS):
        alive = bi.join(
            nodes.select(F.col("entity_id").alias("u")), "u", "left_semi"
        ).join(
            nodes.select(F.col("entity_id").alias("v")), "v", "left_semi"
        )
        deg = alive.groupBy(F.col("u").alias("entity_id")).agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        nodes = (
            deg.filter(F.col("deg") >= KCORE_K)
            .select("entity_id")
            .localCheckpoint()
        )
    final_edges = bi.join(
        nodes.select(F.col("entity_id").alias("u")), "u", "left_semi"
    ).join(
        nodes.select(F.col("entity_id").alias("v")), "v", "left_semi"
    )
    return final_edges.groupBy(F.col("u").alias("entity_id")).agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    )


def _kcore_oracle() -> str:
    parts = [
        """
bi AS MATERIALIZED (
       SELECT src_entity_id AS u, dst_entity_id AS v FROM sn_edges
       UNION ALL SELECT dst_entity_id AS u, src_entity_id AS v FROM sn_edges),
n_0 AS MATERIALIZED (SELECT DISTINCT u AS entity_id FROM bi)"""
    ]
    # Each n_{i} is referenced TWICE by round i+1 (both semi-join
    # endpoints); if the planner inlines CTEs that doubles the tree
    # per round — 2^ROUNDS copies of the full coref prelude, the SQL
    # twin of the lineage blow-up localCheckpoint prevents on the
    # Spark side. MATERIALIZED pins each round's node set.
    for i in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f"""
e_{i} AS (
  SELECT b.u, b.v FROM bi b
  JOIN n_{i - 1} a ON b.u = a.entity_id
  JOIN n_{i - 1} c ON b.v = c.entity_id
),
d_{i} AS (SELECT u AS entity_id, CAST(count(*) AS BIGINT) AS deg
          FROM e_{i} GROUP BY u),
n_{i} AS MATERIALIZED (SELECT entity_id FROM d_{i} WHERE deg >= {KCORE_K})"""
        )
    final = f"""
SELECT b.u AS entity_id, CAST(count(*) AS BIGINT) AS core_degree
FROM bi b
JOIN n_{KCORE_ROUNDS} a ON b.u = a.entity_id
JOIN n_{KCORE_ROUNDS} c ON b.v = c.entity_id
GROUP BY b.u"""
    return "," + ",".join(parts) + final


ORACLE_KCORE = oracle.wrap(_kcore_oracle(), PERSON)

QUERIES["sn_kcore"] = q_sn_kcore
ORACLES["sn_kcore"] = ORACLE_KCORE


LPA_ITERS = 4  # fixed synchronous label-propagation rounds


def q_sn_communities(spark, sf_dir):
    """Community detection by synchronous label propagation
    (Raghavan 2007), LPA_ITERS fixed rounds — the community layer
    over the reference's social graph (degree filter ->
    SNGephiGraphML.groovy:52; LPA is what a Gephi user runs next on
    the exported graph). Each node starts as its own label; per
    round every node adopts the most frequent label among its
    neighbors PLUS its own current label (the self-vote damps the
    bipartite oscillation of pure synchronous LPA), ties broken to
    the smallest label — fully deterministic, so the fixed unroll is
    hash-exact across engines (the k-core/PageRank discipline; both
    engines run exactly LPA_ITERS rounds whether or not labels have
    converged). Output: each node's final community plus the
    community size.

    Plan at 100 TB: a round is one edge-keyed join (labels onto the
    adjacency), one (node, label) count with map-side combine, and a
    per-node argmax computed as ``max(struct(cnt, -label))`` — an
    aggregation, NOT a rank window, so there is no per-node window
    partition and a celebrity node costs one combinable agg group
    per distinct neighbor label. localCheckpoint per round truncates
    the doubling lineage (the k-core discipline). Label tables stay
    (node, long) rows; on a real cluster the adjacency would be
    bucketed by u so rounds reuse one shuffle."""
    bi = _bi(sn_edges(spark, sf_dir)).select("u", "v").localCheckpoint()
    labels = (
        bi.select(F.col("u").alias("entity_id"))
        .distinct()
        .select("entity_id", F.col("entity_id").alias("label"))
    )
    for _ in range(LPA_ITERS):
        neigh = bi.join(
            labels.select(F.col("entity_id").alias("v"), "label"), "v"
        ).select("u", "label")
        votes = neigh.unionByName(
            labels.select(F.col("entity_id").alias("u"), "label")
        )
        counts = votes.groupBy("u", "label").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        best = counts.groupBy("u").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl")))
            .alias("m")
        )
        labels = best.select(
            F.col("u").alias("entity_id"),
            (-F.col("m.nl")).cast("long").alias("label"),
        ).localCheckpoint()
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    return labels.join(sizes, "label").select(
        "entity_id",
        F.col("label").alias("community"),
        "community_size",
    )


def _lpa_oracle() -> str:
    parts = [
        """
bi AS MATERIALIZED (
       SELECT src_entity_id AS u, dst_entity_id AS v FROM sn_edges
       UNION ALL SELECT dst_entity_id AS u, src_entity_id AS v FROM sn_edges),
l_0 AS MATERIALIZED (
       SELECT DISTINCT u AS entity_id, u AS label FROM bi)"""
    ]
    # the argmax is stated as the rank-1 window (cnt DESC, label ASC)
    # — identical to the Spark side's max(struct(cnt, -label))
    for i in range(1, LPA_ITERS + 1):
        parts.append(
            f"""
v_{i} AS (
  SELECT b.u, l.label FROM bi b JOIN l_{i - 1} l ON b.v = l.entity_id
  UNION ALL SELECT entity_id AS u, label FROM l_{i - 1}
),
c_{i} AS (SELECT u, label, CAST(count(*) AS BIGINT) AS cnt
          FROM v_{i} GROUP BY u, label),
l_{i} AS MATERIALIZED (
  SELECT u AS entity_id, label FROM (
    SELECT u, label, row_number() OVER (
      PARTITION BY u ORDER BY cnt DESC, label ASC) AS rn
    FROM c_{i}
  ) x WHERE rn = 1)"""
        )
    final = f"""
SELECT l.entity_id, CAST(l.label AS BIGINT) AS community, s.community_size
FROM l_{LPA_ITERS} l
JOIN (SELECT label, CAST(count(*) AS BIGINT) AS community_size
      FROM l_{LPA_ITERS} GROUP BY label) s ON l.label = s.label"""
    return "," + ",".join(parts) + final


ORACLE_LPA = oracle.wrap(_lpa_oracle(), PERSON)

QUERIES["sn_communities"] = q_sn_communities
ORACLES["sn_communities"] = ORACLE_LPA
