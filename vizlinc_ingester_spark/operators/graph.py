"""Iterative graph operators (SURVEY.md §2.10 G1).

The reference's cluster merge (src/CorefBase.groovy:220-270) rewires
mention edges onto a surviving entity node per cluster. For
sort-adjacent merge edges the clusters degenerate to runs, and unique
firstname-prefix J5 edges to sort-adjacent pairs (both handled in
coref.py without iteration); this module provides the *general*
connected-components fixpoint for arbitrary candidate-edge sets, such
as the verified LSH near-dup edges of ``suite/dedup.q_dedup_clusters``
and the ``plans/curate.py`` near-dedup step.

Algorithm: small-star / large-star style min-label propagation —
each node repeatedly adopts the smallest component id among itself
and its neighbors until no label changes. Edges are re-used across
iterations (one shuffle per join per iteration); labels are
localCheckpoint()ed every iteration to cut the lineage (otherwise the
plan doubles per iteration and the job dies long before convergence).
Converges in O(log d) iterations for diameter d; the reference's
chains are sort-adjacent so d is tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """edges(src, dst) -> (node, component) where component is the
    minimum node id reachable. Nodes appearing in no edge are absent
    (callers union isolated nodes back with component = own id).
    """
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    sym = sym.filter(F.col("a") != F.col("b")).distinct().persist()
    sym.count()

    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )

    def shortcut(lbl: DataFrame) -> DataFrame:
        """Pointer doubling: component <- component(component). The
        hook step alone moves labels one hop per iteration (O(d));
        shortcutting compounds pointer depth for O(log d)."""
        ptr = lbl.select(
            F.col("node").alias("c_node"), F.col("component").alias("c_comp")
        )
        return lbl.join(ptr, lbl["component"] == ptr["c_node"], "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("c_comp"), F.col("component"))
            ).alias("component"),
        )

    for _ in range(max_iterations):
        # hook: adopt the minimum component among neighbors
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = labels.join(
            neighbor_min, labels["node"] == F.col("node2"), "left"
        ).select(
            "node",
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
        )
        new_labels = shortcut(shortcut(new_labels)).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break

    sym.unpersist()
    return labels


def cluster_by_edges(
    items: DataFrame,
    edges: DataFrame,
    id_col: str,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Attach a ``component`` column to ``items``: connected-component
    id over ``edges``, own id for isolated items. This is the general
    form of the reference's mergeClusters rewrite — every item in a
    component belongs to one merged entity."""
    cc = connected_components(edges, src=src, dst=dst)
    return (
        items.join(cc, items[id_col] == cc["node"], "left")
        .drop("node")
        .withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
    )


def triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Degree-oriented triangle enumeration (cf. Suri & Vassilvitskii,
    "Counting Triangles and the Curse of the Last Reducer", WWW'11):
    orient every undirected edge toward the higher (degree, id)
    endpoint, build wedges at each vertex over its OUT-neighbors only,
    and close them with a semi-join. Out-degree in the oriented graph
    is bounded by O(sqrt(edges)) (arboricity), so a celebrity vertex
    with degree d contributes O(arboricity * d) wedges instead of
    O(d^2) — the difference between a skewed 100 TB graph finishing or
    one reducer exploding. Output is canonical ``(a, b, c)`` with
    a < b < c, one row per triangle — byte-identical to the id-oriented
    formulation, so both share one oracle.

    ``edges`` is the canonical undirected edge list (src < dst, no
    duplicates).
    """
    e = edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
    bi = e.union(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
    deg = bi.groupBy(F.col("x").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    # key = (deg, id): a total order; orient x -> y iff key(x) < key(y)
    dx = deg.select(F.col("v").alias("x"), F.struct("deg", "v").alias("kx"))
    dy = deg.select(F.col("v").alias("y"), F.struct("deg", "v").alias("ky"))
    keyed = e.join(dx, "x").join(dy, "y")
    oriented = keyed.select(
        F.when(F.col("kx") < F.col("ky"), F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(F.col("kx") < F.col("ky"), F.col("y")).otherwise(F.col("x")).alias("w"),
        F.when(F.col("kx") < F.col("ky"), F.col("ky")).otherwise(F.col("kx")).alias("kw"),
    ).persist()
    # Eagerly materialize: three consumers (both wedge sides + the
    # closing semi-join) share this subplan, and Spark would otherwise
    # recompute the degree shuffle + orientation joins per branch.
    oriented.count()
    lo = oriented.select("u", F.col("w").alias("v"), F.col("kw").alias("kv"))
    hi = oriented.select("u", "w", "kw")
    wedges = lo.join(hi, "u").filter(F.col("kv") < F.col("kw"))
    closing = oriented.select(F.col("u").alias("v"), "w")
    tri = wedges.join(closing, ["v", "w"], "left_semi")
    ids = F.array_sort(F.array("u", "v", "w"))
    return tri.select(
        F.element_at(ids, 1).alias("a"),
        F.element_at(ids, 2).alias("b"),
        F.element_at(ids, 3).alias("c"),
    )
