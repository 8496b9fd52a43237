"""Amplified-scale probes backing the PLANS.md scale claims.

The sf0.1 testdata is small enough that every plan "works"; these
probes amplify it 20-50× so the asymptotic differences between plan
shapes become measurable wall-clock, and re-run on each round's code
so the recorded numbers track the current implementation.

Usage: python tools/amplified_probes.py [asof|range|all]

Each probe prints one line per measurement:
    PROBE <name> <seconds> <detail>
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _spark():
    from vizlinc_ingester_spark.session import get_spark

    return get_spark("vizlinc-probes", shuffle_partitions=64)


def _timed(name: str, detail: str, fn) -> float:
    t0 = time.perf_counter()
    fn()
    dt = time.perf_counter() - t0
    print(f"PROBE {name} {dt:.1f} {detail}", flush=True)
    return dt


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _amplified_events(spark, reps: int, dense: bool) -> DataFrame:
    from vizlinc_ingester_spark.suite.relational import _events

    e = _events(spark, SF_DIR)
    r = e.withColumn("rep", F.explode(F.array(*[F.lit(i) for i in range(reps)])))
    uid = (
        F.col("user_id") % 1500 if dense
        else F.col("user_id") + F.col("rep") * 1_000_000
    )
    return r.select(
        (F.col("event_id") + F.col("rep") * 10_000_000).alias("event_id"),
        # spread replicas in time so per-key event sequences interleave
        (F.col("ts") + F.col("rep") * 1_000_000).alias("ts"),
        uid.alias("user_id"),
        "event_type",
        "value",
    ).repartition(64)


def _asof_sides(e: DataFrame):
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id",
        F.expr("ts div 1000").cast("long").alias("err_us"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.expr("ts div 1000").cast("long").alias("click_us"),
        F.col("value").alias("click_value"),
    )
    return errors, clicks


def probe_asof(spark, reps: int = 50) -> None:
    """50× events: union+window as-of join vs naive theta-join+rank
    in sparse and dense key regimes (PLANS.md 'Temporal joins')."""
    from vizlinc_ingester_spark.operators.temporal import asof_join

    for regime, dense in (("sparse", False), ("dense", True)):
        e = _amplified_events(spark, reps, dense).persist()
        n = e.count()
        errors, clicks = _asof_sides(e)
        _timed(
            f"asof_union_window_{regime}", f"{n} events",
            lambda: _noop(
                asof_join(errors, clicks, on=["user_id"],
                          left_ts="err_us", right_ts="click_us")
            ),
        )

        def naive():
            j = errors.join(clicks, "user_id").filter(
                F.col("click_us") <= F.col("err_us")
            )
            w = Window.partitionBy("err_id").orderBy(F.desc("click_us"))
            _noop(j.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1))

        _timed(f"asof_naive_theta_{regime}", f"{n} events", naive)
        e.unpersist()


def probe_range(spark, reps: int = 50) -> None:
    """50× events: banded range join (bin-replicated equi-join)."""
    from vizlinc_ingester_spark.operators.temporal import range_join_banded

    e = _amplified_events(spark, reps, dense=False).persist()
    n = e.count()
    errors, clicks = _asof_sides(e)
    _timed(
        "range_banded_sparse", f"{n} events",
        lambda: _noop(
            range_join_banded(errors, clicks, on=["user_id"],
                              left_ts="err_us", right_ts="click_us",
                              band=60_000_000)
        ),
    )
    e.unpersist()


def probe_ann(spark, reps: int = 10) -> None:
    """10× embeddings: brute-force baseline vs the three indexed
    paths (IVF / random-hyperplane LSH / PQ-ADC), through the exact
    gated suite code (PLANS.md 'ANN at scale'). The amplified table
    is written to a temp dir shaped like an sf_dir so the probes run
    the same path-keyed loaders/memos as the driver. Index builds are
    timed separately from probes (build-once/probe-many is the
    semantics the memo encodes)."""
    import tempfile

    from vizlinc_ingester_spark.suite import similarity as sim

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    amplified = e.withColumn(
        "rep", F.explode(F.array(*[F.lit(i) for i in range(reps)]))
    )
    # r11: query/centroid sets are FIXED-SIZE prefixes (vec_id <
    # N_QUERIES/N_CENTROIDS), so amplification grows the corpus while
    # the index/query sets stay constant — the design point the probe
    # now measures
    amplified = amplified.select(
        (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"),
        *[c for c in e.columns if c != "vec_id"],
    ).repartition(64)
    tmp = tempfile.mkdtemp(prefix="ann_probe_")
    amplified.write.mode("overwrite").parquet(
        os.path.join(tmp, "embeddings.parquet")
    )
    n = spark.read.parquet(os.path.join(tmp, "embeddings.parquet")).count()
    _timed(
        f"ann_brute_{reps}x", f"{n} vectors (top-k kernel, float-fold cosine)",
        lambda: _noop(sim.q_ann_cosine_topk(spark, tmp)),
    )
    _timed(
        f"ann_brute_vec_{reps}x", f"{n} vectors (top-k kernel, quantized matmul)",
        lambda: _noop(sim.q_ann_cosine_topk_vec(spark, tmp)),
    )
    _timed(
        f"ann_ivf_build_{reps}x", f"{n} vectors incl index build",
        lambda: _noop(sim.q_ann_ivf(spark, tmp)),
    )
    _timed(
        f"ann_ivf_probe_{reps}x", "index memoized",
        lambda: _noop(sim.q_ann_ivf(spark, tmp)),
    )
    _timed(
        f"ann_lsh_{reps}x", f"{n} vectors",
        lambda: _noop(sim.q_ann_lsh(spark, tmp)),
    )
    _timed(
        f"ann_pq_train_{reps}x", f"{n} vectors incl codebook training",
        lambda: _noop(sim.q_ann_pq(spark, tmp)),
    )
    _timed(
        f"ann_pq_adc_{reps}x", "codebook memoized",
        lambda: _noop(sim.q_ann_pq(spark, tmp)),
    )


def probe_kmeans(spark, reps: int = 10) -> None:
    """10× embeddings through the exact gated k-means. r11: the seed
    set is the FIXED-SIZE vec_id < KMEANS_K prefix, so amplification
    grows N while K stays constant — assignment work is K x N (linear
    in the corpus) and the driver-hosted centroid state is K x D at
    any scale. Checks the 100 TB claims: assignment stays a
    broadcast scan (no shuffle of the corpus), update shuffle stays
    bounded by K x D groups."""
    import tempfile

    from vizlinc_ingester_spark.suite import similarity as sim

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    amplified = e.withColumn(
        "rep", F.explode(F.array(*[F.lit(i) for i in range(reps)]))
    ).select(
        (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"),
        *[c for c in e.columns if c != "vec_id"],
    ).repartition(64)
    tmp = tempfile.mkdtemp(prefix="kmeans_probe_")
    amplified.write.mode("overwrite").parquet(
        os.path.join(tmp, "embeddings.parquet")
    )
    n = spark.read.parquet(os.path.join(tmp, "embeddings.parquet")).count()
    k = sim.KMEANS_K
    _timed(
        f"kmeans_{reps}x", f"{n} vectors K~{k} {sim.KMEANS_ROUNDS} rounds",
        lambda: _noop(sim.q_kmeans_clusters(spark, tmp)),
    )
    q = sim.q_kmeans_clusters(spark, tmp)
    plan = q._jdf.queryExecution().executedPlan().toString()
    bnl = plan.count("BroadcastNestedLoopJoin") + plan.count("BroadcastExchange")
    print(f"PROBEINFO kmeans_{reps}x broadcast_nodes={bnl} "
          f"corpus_exchanges={plan.count('Exchange hashpartitioning')}",
          flush=True)


def probe_textdedup(spark, reps: int = 20) -> None:
    """20× documents (10k docs): the round-6 text-dedup/selection
    family through the exact gated suite code. Amplified docs are
    written to a temp sf_dir so the path-keyed loaders/memos behave
    as in the driver. Each rep gets a distinct doc_id stride; text is
    unchanged, so cross-rep duplication rises — the adversarial
    direction for dedup operators (more repeated windows/segments,
    denser boilerplate set)."""
    import tempfile

    from vizlinc_ingester_spark.suite import curation as cu
    from vizlinc_ingester_spark.suite import dedup as ddq
    from vizlinc_ingester_spark.suite import textstats as ts

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    amplified = d.withColumn(
        "rep", F.explode(F.array(*[F.lit(i) for i in range(reps)]))
    )
    amplified = amplified.select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
        *[c for c in d.columns if c != "doc_id"],
    ).repartition(64)
    tmp = tempfile.mkdtemp(prefix="textdedup_probe_")
    amplified.write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )
    n = spark.read.parquet(os.path.join(tmp, "documents.parquet")).count()
    _timed(
        f"exact_substr_{reps}x", f"{n} docs (interval-merge coverage)",
        lambda: _noop(ddq.q_dedup_exact_substr(spark, tmp)),
    )
    _timed(
        f"segments_{reps}x", f"{n} docs (boilerplate removal + reassembly)",
        lambda: _noop(ddq.q_dedup_segments(spark, tmp)),
    )
    _timed(
        f"nb_train_{reps}x", f"{n} docs incl model training",
        lambda: _noop(ts.q_quality_classifier_nb(spark, tmp)),
    )
    _timed(
        f"nb_score_{reps}x", "model memoized",
        lambda: _noop(ts.q_quality_classifier_nb(spark, tmp)),
    )
    _timed(
        f"dsir_{reps}x", f"{n} docs (hashed-bigram importance top-k)",
        lambda: _noop(cu.q_dsir_selection(spark, tmp)),
    )
    # adversarial for prefix filtering: every doc has reps-1 exact
    # copies, so every qualifying pair must be found AND the rarest
    # grams' prefix groups hold >= reps members each
    _timed(
        f"simjoin_allpairs_{reps}x",
        f"{n} docs (exact prefix-filter join, {reps}x duplication)",
        lambda: _noop(ddq.q_simjoin_allpairs(spark, tmp)),
    )


def probe_semantic(spark, reps: int = 10) -> None:
    """10× embeddings: SemDeDup through the gated suite code — the
    within-cluster pair join's cost tracks sum(cluster_size^2), the
    quantity the clustering exists to bound."""
    import tempfile

    from vizlinc_ingester_spark.suite import similarity as sim

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    amplified = e.withColumn(
        "rep", F.explode(F.array(*[F.lit(i) for i in range(reps)]))
    )
    amplified = amplified.select(
        (F.col("vec_id") + F.col("rep") * 1_000_000).alias("vec_id"),
        *[c for c in e.columns if c != "vec_id"],
    ).repartition(64)
    tmp = tempfile.mkdtemp(prefix="semantic_probe_")
    amplified.write.mode("overwrite").parquet(
        os.path.join(tmp, "embeddings.parquet")
    )
    n = spark.read.parquet(os.path.join(tmp, "embeddings.parquet")).count()
    _timed(
        f"semdedup_build_{reps}x", f"{n} vectors incl cluster assignment",
        lambda: _noop(sim.q_dedup_semantic(spark, tmp)),
    )
    _timed(
        f"semdedup_memo_{reps}x", "assignment memoized",
        lambda: _noop(sim.q_dedup_semantic(spark, tmp)),
    )


def probe_celebrity(spark, reps: int = 30) -> None:
    """Celebrity skew over the user/node-keyed analytics (judge-r6
    task 7): reassign a SHARE of all amplified events to one user and
    measure the user_id-keyed operators. Two regimes:

    - share=1%: realistic celebrity; below 1/parallelism (64
      partitions -> uniform tasks already hold ~1.6%), so no local
      crossover is EXPECTED — the window form's straggler only
      emerges when one key exceeds one task's uniform share.
    - share=25%: the asymptotic regime a 1% celebrity reaches at
      1000-executor parallelism (1% >> 1/1000 of the work per task);
      locally 25% >> 1/64 makes the single-task serialization
      measurable.

    Also probes a 100x-degree hub through the k-core round shape
    (semi-join + degree count on the node key) vs a uniform graph of
    the same size — partial aggregation should absorb the count-side
    skew; the semi-join shuffle is the open question AQE's skew-join
    does not cover (it only splits sort-merge join sides)."""
    from vizlinc_ingester_spark.suite.relational import (
        _transitions_prob,
        funnel_table,
        transitions_matrix,
        transitions_matrix_scalable,
    )

    for share in (1, 25):
        base = _amplified_events(spark, reps, dense=True)
        e = base.select(
            "event_id", "ts",
            F.when(
                F.pmod(F.hash("event_id"), F.lit(100)) < share, F.lit(0)
            ).otherwise(F.col("user_id")).alias("user_id"),
            "event_type", "value",
        ).persist()
        n = e.count()
        _timed(
            f"transitions_window_cel{share}", f"{n} events {share}% one user",
            lambda: _noop(_transitions_prob(transitions_matrix(e))),
        )
        _timed(
            f"transitions_scalable_cel{share}", f"{n} events {share}% one user",
            lambda: _noop(
                _transitions_prob(transitions_matrix_scalable(spark, e))
            ),
        )
        _timed(
            f"funnel_cel{share}", f"{n} events {share}% one user",
            lambda: _noop(funnel_table(e.select("user_id", "ts", "event_type"))),
        )

        def cohort():
            ed = e.select(
                "user_id", F.expr("ts div 86400000000000").alias("day")
            )
            firsts = ed.groupBy("user_id").agg(F.min("day").alias("cday"))
            _noop(
                ed.join(firsts, "user_id")
                .select(
                    "user_id",
                    F.expr("cday div 7").alias("cohort_week"),
                    F.expr("(day - cday) div 7").alias("offset_week"),
                )
                .groupBy("cohort_week", "offset_week")
                .agg(F.countDistinct("user_id").alias("active_users"))
            )

        _timed(f"cohort_cel{share}", f"{n} events {share}% one user", cohort)
        e.unpersist()

    # k-core round shape with a hub node: 2M uniform edges over 100k
    # nodes (avg degree ~40) + one node with 100x that degree.
    n_edges, n_nodes, hub_deg = 2_000_000, 100_000, 4_000
    uniform = spark.range(n_edges).select(
        F.pmod(F.hash("id"), F.lit(n_nodes)).cast("long").alias("u"),
        F.pmod(F.hash(F.col("id") + 1_000_000_000), F.lit(n_nodes))
        .cast("long").alias("v"),
    ).filter(F.col("u") != F.col("v"))
    hub = spark.range(hub_deg).select(
        F.lit(-1).cast("long").alias("u"), F.col("id").alias("v")
    )

    def kcore_round(edges):
        bi = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).localCheckpoint()
        nodes = bi.select(F.col("u").alias("nid")).distinct()
        alive = bi.join(
            nodes.select(F.col("nid").alias("u")), "u", "left_semi"
        ).join(nodes.select(F.col("nid").alias("v")), "v", "left_semi")
        _noop(
            alive.groupBy("u").agg(F.count(F.lit(1)).alias("deg")).filter(
                F.col("deg") >= 2
            )
        )

    _timed("kcore_round_uniform", f"{n_edges} edges no hub",
           lambda: kcore_round(uniform))
    _timed("kcore_round_hub", f"{n_edges} edges + {hub_deg}-deg hub",
           lambda: kcore_round(uniform.unionByName(hub)))


def probe_sketches(spark, reps: int = 20) -> None:
    """The r8 sketch family at 20x events (sparse ids -> ~30k distinct
    users): KMV registers, Bloom words, histogram cells, HLL
    registers — each must stay a single scan + map-side-combinable
    rollup whose output is register/cell-sized, so cost tracks the
    scan, not the key space."""
    from vizlinc_ingester_spark.suite.sketches import (
        BLOOM_D,
        HIST_B,
        _bloom_bit,
        kmv_registers,
    )
    from vizlinc_ingester_spark.functions.hashing import stable_hash64

    e = _amplified_events(spark, reps, dense=False).persist()
    n = e.count()

    def kmv():
        _noop(kmv_registers(e.select(
            "event_type",
            stable_hash64(F.col("user_id").cast("string")).alias("h"),
        )))

    def bloom():
        keys = e.select(F.col("user_id").cast("string").alias("k")).distinct()
        bits = None
        for r in range(BLOOM_D):
            br = keys.select(_bloom_bit(r, F.col("k")).alias("bit"))
            bits = br if bits is None else bits.unionByName(br)
        _noop(
            bits.select(
                F.expr("bit div 32").cast("long").alias("word_idx"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(bit % 32 AS INT))"
                ).alias("mask"),
            )
            .groupBy("word_idx")
            .agg(F.expr("bit_or(mask)").alias("bits"))
        )

    def hist():
        c = e.select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        bounds = c.groupBy("event_type").agg(
            F.min("cents").alias("lo"), F.max("cents").alias("hi")
        )
        idx = F.expr(
            f"least({HIST_B - 1}, ((cents - lo) * {HIST_B})"
            " div (hi - lo + 1))"
        ).cast("long")
        _noop(
            c.join(F.broadcast(bounds), "event_type")
            .select("event_type", idx.alias("bucket"))
            .groupBy("event_type", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    def hll():
        h = stable_hash64(F.col("user_id").cast("string"))
        bw = e.select(
            "event_type", (h % 64).alias("bucket"),
            F.shiftright(h, 6).alias("wbits"),
        )
        rho = F.when(F.col("wbits") == 0, F.lit(55)).otherwise(
            F.lit(55) - F.length(F.bin(F.col("wbits")))
        )
        _noop(
            bw.withColumn("rho", rho.cast("long"))
            .groupBy("event_type", "bucket")
            .agg(F.max("rho").alias("m_j"))
        )

    kmv(); bloom(); hist(); hll()  # JIT warm-up pass
    _timed("sketch_kmv_registers", f"{n} events", kmv)
    _timed("sketch_bloom_words", f"{n} events", bloom)
    _timed("sketch_hist_cells", f"{n} events", hist)
    _timed("sketch_hll_registers", f"{n} events", hll)
    e.unpersist()


def probe_lpa(spark, n_edges: int = 2_000_000, n_nodes: int = 100_000,
              hub_deg: int = 400_000) -> None:
    """One LPA round (suite/graph_q.py::q_sn_communities shape) on an
    amplified graph, A/B-ing the per-node argmax as max(struct) AGG
    (shipped) vs a rank WINDOW (the form the docstring claims loses
    on hubs), each on a uniform graph and on uniform + one hub
    holding ~17% of all edge endpoints. The window form partitions by
    node, so the hub's partition is its whole distinct-neighbor-label
    set in one task; the agg form partial-combines it."""
    from pyspark.sql import Window

    uniform = spark.range(n_edges).select(
        F.pmod(F.hash("id"), F.lit(n_nodes)).cast("long").alias("u"),
        F.pmod(F.hash(F.col("id") + 1_000_000_000), F.lit(n_nodes))
        .cast("long").alias("v"),
    ).filter(F.col("u") != F.col("v"))
    hub = spark.range(hub_deg).select(
        F.lit(-1).cast("long").alias("u"),
        F.pmod(F.hash(F.col("id") + 77), F.lit(n_nodes)).cast("long")
        .alias("v"),
    )

    def lpa_round(edges, use_window: bool):
        bi = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).localCheckpoint()
        labels = (
            bi.select(F.col("u").alias("entity_id")).distinct()
            .select("entity_id", F.col("entity_id").alias("label"))
        )
        neigh = bi.join(
            labels.select(F.col("entity_id").alias("v"), "label"), "v"
        ).select("u", "label")
        votes = neigh.unionByName(
            labels.select(F.col("entity_id").alias("u"), "label")
        )
        counts = votes.groupBy("u", "label").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        if use_window:
            w = Window.partitionBy("u").orderBy(
                F.desc("cnt"), F.asc("label")
            )
            out = (
                counts.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("u", "label")
            )
        else:
            out = counts.groupBy("u").agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
                ).alias("m")
            ).select("u", (-F.col("m.nl")).alias("label"))
        _noop(out)

    # JIT/codegen warm-up on a small slice so the first timed form
    # does not absorb compilation (the bench's warm-up discipline)
    small = uniform.limit(50_000)
    lpa_round(small, use_window=False)
    lpa_round(small, use_window=True)
    for tag, edges in (
        ("uniform", uniform),
        ("hub", uniform.unionByName(hub)),
    ):
        n = edges.count()
        _timed(f"lpa_round_agg_{tag}", f"{n} edges",
               lambda e=edges: lpa_round(e, use_window=False))
        _timed(f"lpa_round_window_{tag}", f"{n} edges",
               lambda e=edges: lpa_round(e, use_window=True))


def probe_cutemit(spark, n_docs: int = 20_000, n_islands: int = 40) -> None:
    """ExactSubstr cut emitter A/B on island-dense docs (judge-r7 item
    5): every doc alternates an 8-token boilerplate phrase (shared by
    all docs -> every run is a duplicated window -> one island) with 8
    unique tokens — 50% coverage, ``n_islands`` islands per doc, the
    regime where the per-token F.exists interval test is
    O(n_tokens x n_islands) while the sorted-islands slice walk is
    O(n_tokens + n_islands). Both forms run the identical pipeline up
    to the persisted (base ⋈ cuts) relation, so the timed delta IS
    the cut expression."""
    from vizlinc_ingester_spark.suite.dedup import (
        _cut_kept_exists,
        _cut_kept_slices,
        _substr_base_occ_islands,
    )

    boiler = " ".join(f"b{j}" for j in range(8))
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.lit(n_islands)),
                    lambda k: F.concat(
                        F.split(F.lit(boiler), " "),
                        F.transform(
                            F.sequence(F.lit(1), F.lit(8)),
                            lambda j: F.concat_ws(
                                "_", F.lit("u"), F.col("id"), k, j
                            ),
                        ),
                    ),
                )
            ),
        ).alias("text"),
    ).repartition(64)
    base, _, islands = _substr_base_occ_islands(docs)
    per_doc = islands.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("cuts")
    )
    joined = base.join(per_doc, "doc_id", "left").persist()
    n = joined.count()

    def run(form):
        kept = F.when(F.col("cuts").isNull(), F.col("t")).otherwise(
            form(F.col("t"), F.col("n_tokens"), F.col("cuts"))
            if form is _cut_kept_slices
            else form(F.col("t"), F.col("cuts"))
        )
        _noop(
            joined.select(
                "doc_id", "n_tokens",
                F.size(kept).alias("kept_tokens"),
                F.array_join(kept, " ").alias("cleaned_text"),
            )
        )

    for _ in range(2):  # warm + discard JIT
        run(_cut_kept_slices)
    _timed(
        "cutemit_exists", f"{n} docs x {n_islands} islands",
        lambda: run(_cut_kept_exists),
    )
    _timed(
        "cutemit_slices", f"{n} docs x {n_islands} islands",
        lambda: run(_cut_kept_slices),
    )
    joined.unpersist()




def probe_knlm(spark, reps: int = 10) -> None:
    """10x corpus: the KN model is bigram-TYPE bounded (Heaps), not
    corpus bounded — amplification multiplies bigram POSITIONS 10x
    while the type set (and therefore the model, the broadcastable
    B total, and the streaming store) stays flat; train time scales
    with positions (one rollup pass), not with the pair space."""
    from vizlinc_ingester_spark.suite.textstats import (
        bigram_counts,
        kn_model_from_counts,
    )

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    amp = d.withColumn(
        "rep", F.explode(F.array(*[F.lit(i) for i in range(reps)]))
    ).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    ).repartition(64)
    t1 = bigram_counts(d).count()
    t10 = bigram_counts(amp).count()
    # NOTE: rep-duplication cannot create new bigram TYPES, so 1x ==
    # 10x here is by construction — the line documents that model/
    # store size tracks the TYPE count (which on real data grows
    # Heaps-sublinearly), not the position count; the probe's
    # MEASUREMENT is the timing pair below (position-linear train
    # cost against a flat model).
    print(f"PROBE knlm_types 0.0 1x={t1} {reps}x={t10} "
          "(model size = type count by construction; timings are the "
          "measurement)", flush=True)
    _timed("knlm_train_1x", f"{t1} model rows",
           lambda: _noop(kn_model_from_counts(bigram_counts(d))))
    _timed(f"knlm_train_{reps}x", f"{t10} model rows",
           lambda: _noop(kn_model_from_counts(bigram_counts(amp))))


def probe_perceptron(spark, reps: int = 10) -> None:
    """10x held-out corpus through the FIXED epoch-1 perceptron
    weights: decode is one broadcast join + one bucketed
    applyInPandas — time must scale with tokens, the weight state
    (vocab x K table + 20 ints) is unchanged by amplification."""
    from vizlinc_ingester_spark.operators.tagger import apply_viterbi
    from vizlinc_ingester_spark.suite.ner import (
        _ctx_tokens,
        _models_perceptron,
        _perc_zero_defaults,
        _span_gold,
    )

    tmat, ew = _models_perceptron(spark, SF_DIR, 1)
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).filter(
        F.col("doc_id") % 2 == 1
    )
    amp = d.withColumn(
        "rep", F.explode(F.array(*[F.lit(i) for i in range(reps)]))
    ).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"), "text"
    ).repartition(64)
    zeros = _perc_zero_defaults(spark)

    def decode(docs):
        toks = _span_gold(_ctx_tokens(docs)).withColumnRenamed(
            "tag", "gold_tag"
        )
        return apply_viterbi(
            toks.select("doc_id", "idx", "token", "gold_tag"),
            tmat, ew, zeros, carry_cols=("gold_tag",),
        )

    _noop(decode(d))  # JIT/codegen warm-up — untimed
    _timed("perceptron_decode_1x", "held half", lambda: _noop(decode(d)))
    _timed(f"perceptron_decode_{reps}x", "amplified held half",
           lambda: _noop(decode(amp)))


def probe_perceptron_avg(spark) -> None:
    """Averaged-perceptron build cost must be EPOCH-LINEAR with a
    fixed weight-table size: each epoch adds ONE localCheckpointed
    train decode + one vocab-keyed count join; the summed decode
    table has the same shape at any E (vocab x K), so apply cost is
    E-independent. (The pre-fix chained form grew the PLAN
    exponentially in E — OOMed a 1g driver at E=6; lineage truncation
    is what makes this linear.)"""
    from vizlinc_ingester_spark.suite.ner import (
        _ctx_tokens,
        _perc_weights_avg,
        _span_gold,
    )

    train = spark.read.parquet(
        os.path.join(SF_DIR, "documents.parquet")
    ).filter(F.col("doc_id") % 2 == 0)
    labeled = _span_gold(_ctx_tokens(train)).select(
        "doc_id", "idx", "token", "tag"
    )

    def build(epochs):
        tmat, ew, owned = _perc_weights_avg(spark, labeled, epochs)
        n = ew.count()
        for df in owned:
            df.unpersist()
        return n

    build(2)  # JIT/codegen warm-up — untimed
    t2 = _timed("perceptron_avg_e2", "2-epoch build", lambda: build(2))
    t6 = _timed("perceptron_avg_e6", "6-epoch build", lambda: build(6))
    # 5 decodes vs 1: epoch-linear means roughly 5x the decode cost,
    # NOT exponential; the weight table row count is identical
    print(
        f"PROBE perceptron_avg_ratio {t6 / max(t2, 1e-9):.1f} "
        "e6/e2 build-cost ratio (epoch-linear ~3-5, exponential >>)",
        flush=True,
    )


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = _spark()
    if which in ("asof", "all"):
        probe_asof(spark)
    if which in ("range", "all"):
        probe_range(spark)
    if which in ("ann", "all"):
        probe_ann(spark)
    if which in ("textdedup", "all"):
        probe_textdedup(spark)
    if which in ("semantic", "all"):
        probe_semantic(spark)
    if which in ("celebrity", "all"):
        probe_celebrity(spark)
    if which in ("cutemit", "all"):
        probe_cutemit(spark)
    if which in ("sketches", "all"):
        probe_sketches(spark)
    if which in ("lpa", "all"):
        probe_lpa(spark)
    if which in ("kmeans", "all"):
        probe_kmeans(spark)
    if which in ("repetition", "all"):
        probe_repetition(spark)
    if which in ("celebentity", "all"):
        probe_celebrity_entity(spark)
    if which in ("knlm", "all"):
        probe_knlm(spark)
    if which in ("perceptron", "all"):
        probe_perceptron(spark)
    if which in ("perceptronavg", "all"):
        probe_perceptron_avg(spark)



def probe_repetition(spark, reps: int = 10) -> None:
    """Mega-doc skew regime for the repetition coverage core: the
    per-doc windows put ALL of a document's gram rows in one task, so
    a single pathological giant doc is the worst case (r9 question).
    Two corpora, same total token volume (~2.6M tokens): UNIFORM =
    26k docs x 100 tokens; MEGADOC = the same plus ONE 1M-token doc
    with heavy internal repetition (vocab 1k, so dup-gram density is
    real). Measures whether the single hot partition stalls the stage
    wall-clock relative to the uniform baseline."""
    import random

    from vizlinc_ingester_spark.suite.repetition import (
        _inject_repetition,
        _repetition_core_corpus,
    )

    rng = random.Random(9)
    vocab = [f"w{i}" for i in range(5000)]
    uniform = [
        (i, " ".join(rng.choice(vocab) for _ in range(100)))
        for i in range(26_000)
    ]
    small_vocab = [f"m{i}" for i in range(1_000)]
    mega = (10_000_001, " ".join(rng.choice(small_vocab) for _ in range(1_000_000)))

    def run(rows, detail):
        d = spark.createDataFrame(rows, "doc_id long, text string")
        corpus = _inject_repetition(d)
        _noop(_repetition_core_corpus(corpus))  # warm
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            _noop(_repetition_core_corpus(corpus))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        print(f"PROBE repetition {best:.1f} {detail}", flush=True)
        return best

    b_uni = run(uniform, "uniform 26k x 100 tokens")
    b_mega = run(uniform + [mega], "uniform + one 1M-token mega-doc")
    print(
        f"PROBE repetition ratio {b_mega / b_uni:.2f} "
        "(mega-doc stage penalty)",
        flush=True,
    )


def probe_celebrity_entity(spark, reps: int = 10, share_pct: int = 10) -> None:
    """Celebrity-ENTITY skew through the default coref synthesize path
    (judge-r9 item 2): one strong PERSON name planted in ``share_pct``%
    of a ``reps``x-amplified corpus, so ONE across-doc cluster spans
    ~10% of all documents. The r9 `collect_set(doc_id)` form
    materialized that cluster's whole doc-id set in a single row
    (array blow-up -> executor OOM at 10^7+ docs); the shipped form
    counts first-in-doc flags, so per-row state stays flat no matter
    how many documents the celebrity appears in. Measures baseline
    (no celebrity) vs celebrity wall-clock over the full
    within+across DAG — the claim is a bounded ratio, not a win."""
    from vizlinc_ingester_spark.operators import coref, mentions

    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    amplified = d.withColumn(
        "rep", F.explode(F.array(*[F.lit(i) for i in range(reps)]))
    )
    amplified = amplified.select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"), "text"
    ).repartition(64)

    def run(with_celeb: bool, detail: str) -> float:
        m = mentions.derive_mentions(amplified)
        if with_celeb:
            celeb = amplified.filter(
                F.col("doc_id") % 100 < share_pct
            ).select(
                (F.col("doc_id") + 9_000_000_000).cast("long").alias(
                    "mention_id"
                ),
                F.col("doc_id").cast("long").alias("doc_id"),
                F.lit("PERSON").alias("type"),
                F.lit("JUAN CELEBRITY MARQUEZ").alias("text"),
                F.lit(1).cast("long").alias("idx"),
                F.lit(None).cast("string").alias("global_id"),
                F.lit(0).cast("long").alias("text_start"),
                F.lit(22).cast("long").alias("text_stop"),
            )
            m = m.unionByName(celeb)
        m = m.persist()
        m.count()
        wd = coref.within_doc_entities(m, "PERSON").persist()
        wd.count()
        t0 = time.perf_counter()
        out = coref.across_doc_entities(m, "PERSON", wd=wd)
        _noop(out)
        dt = time.perf_counter() - t0
        if with_celeb:
            row = (
                out.filter(F.col("text") == "JUAN CELEBRITY MARQUEZ")
                .select("num_docs", "num_mentions")
                .collect()
            )
            detail += f" celeb_row={[tuple(r) for r in row]}"
        print(f"PROBE celebentity {dt:.1f} {detail}", flush=True)
        m.unpersist()
        wd.unpersist()
        return dt

    b0 = run(False, f"{reps}x corpus, no celebrity (baseline)")
    b1 = run(True, f"{reps}x corpus, one name in {share_pct}% of docs")
    print(
        f"PROBE celebentity ratio {b1 / b0:.2f} (flat per-row state; "
        "the skew cost is one heavier-but-bounded reducer)",
        flush=True,
    )


if __name__ == "__main__":
    main()
