"""Focused tests for the r15 construction-cost machinery:
session.read_table / memoized read_spread (input-read plan memo keyed
on the session.input_key listing) and session.expr_memo (per-session pure
Column-tree cache). These guard the two properties the optimization
leans on: (1) memoized reads are PLANS, not data — a rewrite of the
files behind an unchanged path must be visible; (2) one cached Column
tree is reusable across independent plans with identical results."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vizlinc_ingester_spark import session as S


@pytest.fixture(scope="module")
def spark():
    return S.get_spark("test-read-expr-memo", shuffle_partitions=4)


def test_read_table_memoizes_per_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("rt") / "t.parquet")
    spark.range(5).write.parquet(p)
    a = S.read_table(spark, p)
    b = S.read_table(spark, p)
    assert a is b  # same plan object, no re-read
    assert a.count() == 5


def test_read_table_refreshes_on_rewrite(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("rt2") / "t.parquet")
    spark.range(3).write.parquet(p)
    a = S.read_table(spark, p)
    assert a.count() == 3
    # rewrite the files behind the SAME path: the input_key listing
    # (relpath/size/mtime_ns) must key a FRESH read
    spark.range(7).write.mode("overwrite").parquet(p)
    b = S.read_table(spark, p)
    assert b is not a
    assert b.count() == 7


def test_read_spread_memoizes_decision_and_refreshes(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("rs") / "t.parquet")
    spark.range(10).select(F.col("id").alias("k")).coalesce(1).write.parquet(p)
    a = S.read_spread(spark, p, "k")
    assert S.read_spread(spark, p, "k") is a
    # the plain read is a distinct memo entry (different value: no spread)
    c = S.read_table(spark, p)
    assert c is not a
    spark.range(4).select(F.col("id").alias("k")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    assert S.read_spread(spark, p, "k").count() == 4


def test_expr_memo_returns_cached_tree(spark):
    calls = []

    def build():
        calls.append(1)
        return F.col("x") + 1

    a = S.expr_memo(("t_expr", "x"), build)
    b = S.expr_memo(("t_expr", "x"), build)
    assert a is b
    assert len(calls) == 1


def test_cached_column_reusable_across_plans(spark):
    # the property §2 of OPTIMIZATION_r15.md leans on: ONE unresolved
    # tree (here the memoized cosine fold) analyzed into two
    # independent plans yields the same values as fresh construction
    from vizlinc_ingester_spark.suite.dedup import cos_micro

    d1 = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])],
        "a array<double>, b array<double>",
    )
    d2 = spark.createDataFrame(
        [([3.0, 4.0], [3.0, 4.0])], "a array<double>, b array<double>"
    )
    memo1 = cos_micro("a", "b")
    memo2 = cos_micro("a", "b")
    assert memo1 is memo2  # served from expr_memo
    r1 = [r[0] for r in d1.select(memo1.alias("c")).collect()]
    r2 = [r[0] for r in d2.select(memo1.alias("c")).collect()]
    fresh = [
        r[0]
        for r in d1.select(
            cos_micro(F.col("a"), F.col("b")).alias("c")
        ).collect()
    ]
    assert r1 == fresh == [1000000, 0]
    assert r2 == [1000000]
