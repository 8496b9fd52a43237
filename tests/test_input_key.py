"""session.input_key is the one listing behind every path-derived cache.

Each test here pins a freshness property that a path-only key cannot
give: a trained artifact retrains after an in-session rewrite, a
``plan_key`` memo misses after a rewrite under an already-read path, a
read after a rewrite by another writer is not served the data persisted
over the old files, a ``file:`` URI memoizes like its plain path, the
spread decision follows the live conf, and no module outside
``session.input_key`` stats input files on its own. The one other
walk, ``session.ship_package``, zips this checkout's own package under
a name of its own."""

from __future__ import annotations

import ast
import os
import shutil

from pyspark.sql import functions as F

from vizlinc_ingester_spark import session as S

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "vizlinc_ingester_spark",
)


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pq_codebooks_retrain_after_overwrite(spark, sf_dir, tmp_path):
    """An in-session overwrite of embeddings.parquet must retrain: the
    PQ and residual-PQ codebooks equal the ones trained on the new data
    under a path no memo has seen (what a fresh session trains)."""
    from vizlinc_ingester_spark.suite import similarity as sim

    live, fresh = tmp_path / "live", tmp_path / "fresh"
    live.mkdir()
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), live)
    _, pq1 = sim._pq_train(spark, str(live))
    _, rpq1 = sim._rpq_train(spark, str(live))

    # new data: vec_ids rotated, so the PQ seeds and the IVF centroids
    # (the lowest ids) change and every codebook must change with them
    old = spark.read.parquet(str(live / "embeddings.parquet"))
    n = old.count()
    old.withColumn("vec_id", (F.col("vec_id") + 7) % n).write.parquet(
        str(fresh / "embeddings.parquet")
    )
    spark.read.parquet(str(fresh / "embeddings.parquet")).write.mode(
        "overwrite"
    ).parquet(str(live / "embeddings.parquet"))

    _, pq2 = sim._pq_train(spark, str(live))
    _, rpq2 = sim._rpq_train(spark, str(live))
    _, pq_want = sim._pq_train(spark, str(fresh))
    _, rpq_want = sim._rpq_train(spark, str(fresh))
    assert pq_want != pq1 and rpq_want != rpq1
    assert pq2 == pq_want
    assert rpq2 == rpq_want


def test_file_uri_reads_memoize_and_refresh(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    uri = "file://" + p
    spark.range(3).select(F.col("id").alias("k")).coalesce(1).write.parquet(p)
    a = S.read_table(spark, uri)
    assert S.read_table(spark, uri) is a
    assert S.read_table(spark, p) is a  # one key for both spellings
    s = S.read_spread(spark, uri, "k")
    assert S.read_spread(spark, uri, "k") is s
    assert a.count() == 3 and s.count() == 3

    spark.range(7).select(F.col("id").alias("k")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    b = S.read_table(spark, uri)
    assert b is not a and b.count() == 7
    s2 = S.read_spread(spark, uri, "k")
    assert s2 is not s and s2.count() == 7


def test_index_dir_file_uri(tmp_path):
    from vizlinc_ingester_spark.suite import search_q as sq

    sf = tmp_path / "sfu"
    (sf / "documents.parquet").mkdir(parents=True)
    (sf / "documents.parquet" / "part-0.parquet").write_bytes(b"abc")
    assert sq._index_dir("file://" + str(sf)) == sq._index_dir(str(sf))


def test_read_spread_follows_max_partition_bytes(spark, tmp_path):
    """The spread decision is worked out on every call: shrinking
    maxPartitionBytes mid-session makes a one-file table wide."""
    p = str(tmp_path / "t.parquet")
    spark.range(2000).select(F.col("id").alias("k")).coalesce(1).write.parquet(p)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    narrow = S.read_spread(spark, p, "k")
    assert "RepartitionByExpression" in _plan(narrow)
    try:
        spark.conf.set(key, "16")
        wide = S.read_spread(spark, p, "k")
        assert "RepartitionByExpression" not in _plan(wide)
    finally:
        spark.conf.set(key, old)
    assert S.read_spread(spark, p, "k") is narrow



def test_plan_key_sees_overwrite(spark, tmp_path):
    """A plan hash sees the path, not the files: the key must change
    when the files under an already-read path are rewritten, and it
    must see the files under a persisted subtree too."""
    p = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(p)
    k1 = S.plan_key(S.read_table(spark, p).filter(F.col("id") > 0), "x")
    cached = S.read_table(spark, p).persist()
    try:
        cached.count()
        assert S.input_key(p) in S.plan_key(cached.filter(F.col("id") > 0))[2]
    finally:
        cached.unpersist()
    spark.range(7).write.mode("overwrite").parquet(p)
    k2 = S.plan_key(S.read_table(spark, p).filter(F.col("id") > 0), "x")
    assert k1 is not None and k2 is not None and k1 != k2


def test_read_sees_rewrite_by_another_writer(spark, tmp_path):
    """A rewrite that does not go through Spark: Spark's cache matches
    the new read to the plan persisted over the old files unless the
    read refreshes the path when its listing changes."""
    p, other = str(tmp_path / "t.parquet"), str(tmp_path / "other.parquet")
    spark.range(3).coalesce(1).write.parquet(p)
    spark.range(7).coalesce(1).write.parquet(other)
    cached = S.read_table(spark, p).filter("id >= 0").persist()
    try:
        assert cached.count() == 3
        shutil.rmtree(p)
        shutil.copytree(other, p)
        assert S.read_table(spark, p).count() == 7
        assert S.read_table(spark, p).filter("id >= 0").count() == 7
    finally:
        cached.unpersist()


def test_across_doc_membership_sees_same_path_rewrite(spark, sf_dir, tmp_path):
    """Two ingests into one work dir: the across-doc membership over
    checkpoints rewritten in place equals the one over a fresh path.
    The sorted-neighborhood memo holds driver-side island maps, so a
    key that missed the rewrite would apply the first data's maps to
    the second data."""
    from vizlinc_ingester_spark.operators import coref
    from vizlinc_ingester_spark.plans import checkpoint
    from vizlinc_ingester_spark.plans.ingest import COREF_TYPES
    from vizlinc_ingester_spark.suite.vizlinc import derived_mentions

    m_all = derived_mentions(spark, sf_dir)
    ids = sorted(r[0] for r in m_all.select("doc_id").distinct().collect())
    third = m_all.filter(F.col("doc_id") < ids[len(ids) // 3])

    def membership(mentions, work_dir):
        m = checkpoint(mentions, os.path.join(work_dir, "mentions"))
        wd = checkpoint(
            coref.within_doc_entities(m, COREF_TYPES, prefix_merge=True),
            os.path.join(work_dir, "within_doc_entities"),
        )
        return coref.across_doc_membership(m, COREF_TYPES, wd=wd)

    live, fresh = str(tmp_path / "live"), str(tmp_path / "fresh")
    first = membership(third, live)
    first_n = first.count()
    got = membership(m_all, live)
    want = membership(m_all, fresh)
    assert want.count() != first_n
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


#: (module, function) pairs allowed to stat or list files directly:
#: the listing itself, the package zip (lists the package's own
#: source) and the index GC (stats index dirs, not inputs)
ALLOWED = {
    ("session", "input_key"),
    ("session", "ship_package"),
    ("suite.search_q", "_gc_stale_indexes"),
}
STAT_CALLS = {
    "os.walk", "os.stat", "os.lstat", "os.scandir",
    "os.path.getsize", "os.path.getmtime",
}


def _dotted(node) -> str:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if isinstance(node, ast.Name):
        parts.append(node.id)
    return ".".join(reversed(parts))


def test_only_input_key_stats_input_files():
    hits = []
    for root, _dirs, files in os.walk(PKG_DIR):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            mod = os.path.relpath(path, PKG_DIR)[:-3].replace(os.sep, ".")
            tree = ast.parse(open(path).read(), path)
            funcs = [
                f for f in ast.walk(tree)
                if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            owner = {}
            for f in sorted(funcs, key=lambda f: f.lineno):
                for n in ast.walk(f):  # inner defs overwrite outer
                    owner[id(n)] = f.name
            for n in ast.walk(tree):
                name = None
                if isinstance(n, ast.Call):
                    name = _dotted(n.func)
                    if name not in STAT_CALLS and not name.startswith("glob."):
                        name = None
                elif isinstance(n, ast.Import):
                    if any(a.name == "glob" for a in n.names):
                        name = "import glob"
                elif isinstance(n, ast.ImportFrom) and n.module == "glob":
                    name = "from glob import"
                if name is None:
                    continue
                fn_name = owner.get(id(n), "<module>")
                if (mod, fn_name) not in ALLOWED:
                    hits.append(f"{mod}.{fn_name}:{n.lineno} {name}")
    assert not hits, hits


def test_ship_package_zip_names_this_checkout(spark):
    """The worker zip is named by a digest of this checkout's package
    directory, so two checkouts on one host ship their own package."""
    import hashlib

    S.ship_package(spark)
    digest = hashlib.sha256(os.path.abspath(PKG_DIR).encode()).hexdigest()[:16]
    name = f"vizlinc_ingester_spark_pkg_{digest}.zip"
    shipped = [os.path.basename(f) for f in spark.sparkContext.listFiles]
    assert name in shipped, shipped
