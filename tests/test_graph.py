"""Connected components: fixpoint correctness on known topologies."""

from __future__ import annotations

from pyspark.sql import functions as F

from vizlinc_ingester_spark.operators.graph import cluster_by_edges, connected_components


def test_chain_and_triangle(spark):
    # chain 1-2-3-4, triangle 10-11-12, isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long",
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert cc[1] == cc[2] == cc[3] == cc[4] == 1
    assert cc[10] == cc[11] == cc[12] == 10
    assert cc[20] == cc[21] == 20


def test_long_chain_converges(spark):
    # path of 200 nodes: stresses the O(log d) propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    cc = connected_components(edges, max_iterations=30)
    comps = cc.select("component").distinct().collect()
    assert len(comps) == 1 and comps[0][0] == 0


def test_cluster_by_edges_isolated(spark):
    items = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    out = {r["id"]: r["component"] for r in cluster_by_edges(items, edges, "id").collect()}
    assert out[0] == out[1] == out[2] == 0
    assert out[3] == 3 and out[4] == 4 and out[5] == 5


def test_matches_islands_for_adjacent_edges(spark):
    """CC over sorted-adjacent edges == gaps-and-islands clusters
    (SURVEY.md §2.10 semantic note)."""
    names = ["ANA", "ANB", "ANC", "CARLOS", "CARLOSX", "ZOE"]
    df = spark.createDataFrame([(i, n) for i, n in enumerate(names)], "id long, name string")
    from pyspark.sql import Window

    w = Window.orderBy("name")
    adj = df.withColumn("prev", F.lag("name").over(w)).withColumn(
        "prev_id", F.lag("id").over(w)
    )
    edges = adj.filter(
        F.col("prev").isNotNull() & (F.levenshtein("prev", "name") <= 1)
    ).select(F.col("prev_id").alias("src"), F.col("id").alias("dst"))
    out = cluster_by_edges(df, edges, "id")
    comps = {r["name"]: r["component"] for r in out.collect()}
    assert comps["ANA"] == comps["ANB"] == comps["ANC"]
    assert comps["CARLOS"] == comps["CARLOSX"]
    assert comps["ZOE"] not in (comps["ANA"], comps["CARLOS"])


def test_degree_oriented_triangles_k4_and_star(spark):
    """K4 has exactly 4 triangles; a star has none. The degree
    orientation must neither lose nor duplicate any."""
    from vizlinc_ingester_spark.operators.graph import triangles

    k4 = spark.createDataFrame(
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)],
        "src long, dst long",
    )
    got = sorted((r.a, r.b, r.c) for r in triangles(k4).collect())
    assert got == [(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)]

    star = spark.createDataFrame(
        [(1, k) for k in range(2, 9)], "src long, dst long"
    )
    assert triangles(star).count() == 0


def test_empty_and_self_loop_edges_yield_no_rows(spark):
    """No edges, or self-loops only: no component rows and no error
    (callers union isolated nodes back themselves)."""
    empty = spark.createDataFrame([], "src long, dst long")
    loops = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    assert connected_components(empty).count() == 0
    assert connected_components(loops).count() == 0
