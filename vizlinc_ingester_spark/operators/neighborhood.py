"""Scalable sorted-neighborhood clustering (SURVEY.md §4: "the key
custom algorithm").

The window form in ``coref._islands`` partitions by the blocking
scope; for *across-document* coref the scope is (type, strong) — a
handful of distinct values — so the corpus-wide sort funnels through
one window partition (Spark's "Moving all data to a single partition"
warning). Correct at test scale; a non-starter at 100 TB.

This module runs the same algorithm with a parallel sort, entirely
JVM-side (the round-2 version did the island scan in two Arrow
``mapInPandas`` passes; the serialization overhead made it 1.7× the
window form at small scale — rewritten round 5 as pure Column logic,
which removed both Python crossings AND the need to ship the package
to executor workers):

1. ``repartitionByRange`` on (scope, name, tiebreak) — Spark's
   distributed range sort; every physical partition holds a
   contiguous run of the global order. ``spark_partition_id()``
   becomes the partition label.
2. One window PER PHYSICAL PARTITION (``partitionBy(__pid)``) — a
   32-way (→ N-way) parallel window, never a single global one —
   computes island breaks with the same Column predicate
   ``coref._islands`` uses (levenshtein ≤ 1 AND equal digit runs,
   src/CorefBase.groovy:176-218), numbering islands 1..n per
   partition via a running sum.
3. Boundary stitching: only the (last row of partition p, first row
   of partition p+1) pairs can merge across the cut — ≤
   numPartitions-1 pairs, evaluated on the driver with the Python
   twin of the predicate, then folded into offset/merge map literals
   applied in the scan stage (``element_at`` on a broadcast-sized
   ``create_map``).

Semantics are byte-identical to the single-partition window form
(verified by tests/test_neighborhood.py on the real mention data and
by the oracle hash gate on `across_doc_entities_person`, whose oracle
clusters with a window). The Python ``merge_pred`` below is
the driver-side/stitching twin of the Column predicate; the parity
test pins them together.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.normalize import all_numbers_match
from ..operators.coref import LEVENSHTEIN_MAX

# Results are memoized per (session, input plan) via session.plan_memo:
# each build persists its windowed relation (two consumers), and the
# memo bounds those entries by distinct inputs (see plan_memo).


def levenshtein(a: str, b: str) -> int:
    """Plain DP Levenshtein — driver-side only, called on at most one
    (last, first) pair per partition boundary."""
    if a == b:
        return 0
    if len(a) > len(b):
        a, b = b, a
    prev = list(range(len(a) + 1))
    for j, cb in enumerate(b, 1):
        cur = [j]
        for i, ca in enumerate(a, 1):
            cur.append(
                min(prev[i] + 1, cur[i - 1] + 1, prev[i - 1] + (ca != cb))
            )
        prev = cur
    return prev[len(a)]


_DIGITS = re.compile(r"\d+")


def merge_pred(prev_name: str, name: str) -> bool:
    """The reference's adjacent-merge predicate
    (src/CorefBase.groovy:176-218): distance <= 1 and identical digit
    runs. Python twin of the Column predicate in ``_cluster_breaks``;
    tests/test_neighborhood.py pins the two together."""
    return (
        levenshtein(prev_name, name) <= LEVENSHTEIN_MAX
        and _DIGITS.findall(prev_name) == _DIGITS.findall(name)
    )


def sorted_neighborhood_clusters(
    df: DataFrame,
    scope_cols: list[str],
    name_col: str,
    tiebreak_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Adds ``cluster_id`` (long, globally unique, stable = min possible
    id of the island) to ``df`` — maximal runs of consecutive
    merge-pred matches in the global (scope, name, tiebreak) order.

    Scales as: one range-shuffle (the sort), one pid-keyed window
    (N-way parallel — `__pid` has exactly num_partitions values, so no
    single-partition stage), a driver-side reduction over
    numPartitions rows, and a map-literal projection. Everything
    JVM-side; zero Python crossings on the data path.
    """
    from ..session import plan_key, plan_memo

    spark = df.sparkSession
    key = plan_key(
        df, "snc", tuple(scope_cols), name_col, tiebreak_col, num_partitions
    )
    return plan_memo(
        spark,
        key,
        lambda: _sorted_neighborhood_clusters(
            df, scope_cols, name_col, tiebreak_col, num_partitions
        ),
    )


def _sorted_neighborhood_clusters(
    df: DataFrame,
    scope_cols: list[str],
    name_col: str,
    tiebreak_col: str,
    num_partitions: int | None,
) -> DataFrame:
    spark = df.sparkSession
    if num_partitions is None:
        # Default: a few range partitions per 8 cores. Each partition
        # is a sequential island scan, so parallelism only has to
        # cover the data volume, not the core count — more partitions
        # mean more boundary stitches and more fixed task overhead
        # (measured: np=32 costs ~2x np=4 on a 7.5k-row input with
        # identical output). A 1000-executor corpus passes an explicit
        # count sized to ~10^7 rows per partition.
        num_partitions = max(spark.sparkContext.defaultParallelism // 8, 2)

    cols = list(df.columns)
    key_cols = [*scope_cols, name_col, tiebreak_col]
    arranged = df.repartitionByRange(num_partitions, *key_cols).withColumn(
        "__pid", F.spark_partition_id()
    )

    w = Window.partitionBy("__pid").orderBy(*key_cols)
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_name = F.lag(name_col).over(w)
    same_scope = F.lit(True)
    for c in scope_cols:
        same_scope = same_scope & F.lag(c).over(w).eqNullSafe(F.col(c))
    merged = (
        prev_name.isNotNull()
        & same_scope
        & (F.levenshtein(prev_name, F.col(name_col)) <= LEVENSHTEIN_MAX)
        & all_numbers_match(prev_name, F.col(name_col))
    )
    assigned = arranged.select(
        *cols,
        "__pid",
        F.sum(F.when(merged, 0).otherwise(1)).over(wrows).alias("__island"),
        F.row_number().over(w).alias("__rn"),
    )
    # Persist: consumed by the boundary-stats job AND the final
    # projection; without it the range sort + window run twice.
    assigned = assigned.persist()

    # Per-partition summary: island count + boundary rows' (scope, name).
    # numPartitions rows — driver-safe at any corpus size (a 100k-partition
    # sort is a 100k-row collect).
    first_last = (
        assigned.groupBy("__pid")
        .agg(
            F.max("__island").alias("n_islands"),
            F.min_by(
                F.struct(*[F.col(c) for c in key_cols]), F.col("__rn")
            ).alias("first_row"),
            F.max_by(
                F.struct(*[F.col(c) for c in key_cols]), F.col("__rn")
            ).alias("last_row"),
        )
        .orderBy("__pid")
        .collect()
    )
    if not first_last:  # empty input
        return df.select(*cols, F.lit(0).cast("long").alias("cluster_id"))

    # Global id offsets + boundary merges (union by "merge into the
    # previous partition's last island").
    offsets: dict[int, int] = {}
    total = 0
    for r in first_last:
        offsets[r["__pid"]] = total
        total += r["n_islands"]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while x in parent:
            x = parent[x]
        return x

    for prev, cur in zip(first_last, first_last[1:]):
        p_scope = tuple(prev["last_row"][c] for c in scope_cols)
        c_scope = tuple(cur["first_row"][c] for c in scope_cols)
        if p_scope != c_scope:
            continue
        if merge_pred(prev["last_row"][name_col], cur["first_row"][name_col]):
            last_global = offsets[prev["__pid"]] + prev["n_islands"]
            first_global = offsets[cur["__pid"]] + 1
            a, b = find(last_global), find(first_global)
            if a != b:
                parent[max(a, b)] = min(a, b)

    # offsets and the (sparse) resolution map become map LITERALS —
    # numPartitions + merge-count entries, evaluated in the scan stage
    off_map = F.create_map(
        *[F.lit(x).cast("long") for k, v in offsets.items() for x in (k, v)]
    )
    gid = (F.col("__island") + F.element_at(off_map, F.col("__pid").cast("long"))).cast(
        "long"
    )
    resolve = {k: find(k) for k in parent}
    if resolve:
        res_map = F.create_map(
            *[F.lit(x).cast("long") for k, v in resolve.items() for x in (k, v)]
        )
        cluster = F.coalesce(F.element_at(res_map, gid), gid)
    else:
        cluster = gid
    out = assigned.select(*cols, cluster.cast("long").alias("cluster_id"))
    # the persisted sort is not part of the returned plan's memo value;
    # mark it owned (on the FINAL returned value — own_aux contract)
    # so registry eviction unpersists it
    from ..session import own_aux

    return own_aux(out, assigned)
