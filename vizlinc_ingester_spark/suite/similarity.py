"""Similarity search over the ``embeddings`` table: brute-force cosine
top-k (the correctness baseline) and an IVF-bucketed variant (the
scale path — search only the query's nearest-centroid partition).

Cosine is computed as an explicit left-fold dot product so both
engines add in the same order; scores are emitted as
``floor(cos * 1e6)`` micro-units with (score desc, vec_id asc)
deterministic ranking.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .dedup import cos_micro, sql_cos_micro

TOPK = 5
# Fixed-SIZE query/centroid sets (the PQ_K precedent at _lloyd_train's
# seed rule): membership is ``vec_id < C`` — a constant-size set at ANY
# corpus size — NOT ``vec_id % MOD == 0``, whose set grows as
# corpus/MOD and silently turned "bounded broadcast / bounded driver
# collect" into O(corpus) at 100 TB (the r10 verdict's scale defect:
# the IVF centroid broadcast, the k-means seed collect and the query
# batch all scaled with the corpus). With fixed C the centroid table,
# the seed set and the serving batch are the same size at sf0.001 and
# at a 1000-executor 100 TB run.
N_QUERIES = 64     # serving query batch: vec_id < N_QUERIES
N_CENTROIDS = 128  # IVF centroid set: vec_id < N_CENTROIDS


def _emb_path(sf_dir: str) -> str:
    return os.path.join(sf_dir, "embeddings.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The parquet is one row group -> one input split; without the
    # spread the cosine fold (a per-element higher-order function, the
    # dominant cost) runs in a single task. Probe-gated
    # (session.read_spread): a wide scan — every scan at real scale —
    # skips the repartition entirely.
    from ..session import read_spread

    return read_spread(spark, _emb_path(sf_dir), "vec_id")


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force top-k: query subset x full table. At scale the
    inner side is the full corpus scanned once per batch of queries
    (queries broadcast, corpus never shuffles)."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    pairs = F.broadcast(q).crossJoin(
        e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
    ).filter(F.col("query_id") != F.col("cand_id"))
    scored = pairs.select(
        "query_id", "cand_id", cos_micro("q_emb", "c_emb").alias("cos_micro")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_micro"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "cand_id", "cos_micro", "rank")
    )


ORACLE_ANN_TOPK = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         {sql_cos_micro('q.embedding', 'c.embedding')} AS cos_micro
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY cos_micro DESC, cand_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, cand_id, cos_micro, rank FROM ranked WHERE rank <= {TOPK}
"""


def _ivf_assigned(spark, sf_dir):
    """The IVF *index*: every vector assigned to its max-cosine
    centroid. Built once per (session, input) and persisted
    (session.plan_memo) — an inverted-file index is a build-once/
    probe-many artifact (at 100 TB it would be a materialized table),
    and without the memo the self-join in the search recomputes the
    whole assignment scoring on BOTH sides (measured: the r5 bench
    regression 0.72 s -> 0.94 s was this double compute plus JIT
    state; with the persisted index the search is ~0.3 s)."""
    from ..session import plan_key, plan_memo

    e = _emb(spark, sf_dir)

    def build():
        cent = e.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cent_emb"),
        )
        scored = (
            e.select("vec_id", "embedding")
            .crossJoin(F.broadcast(cent))
            .select(
                "vec_id", "embedding", "centroid_id",
                cos_micro("embedding", "cent_emb").alias("cm"),
            )
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.desc("cm"), F.asc("centroid_id")
        )
        assigned = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "embedding", "centroid_id")
            .persist()
        )
        assigned.count()  # materialize before the self-join fan-out
        return assigned

    return plan_memo(spark, plan_key(e, "ivf_assign", N_CENTROIDS), build)


def q_ann_ivf(spark, sf_dir):
    """IVF-style ANN: centroid set = the fixed N_CENTROIDS-row
    ``vec_id < N_CENTROIDS`` prefix;
    every vector is assigned to its max-cosine centroid (deterministic
    tie-break on centroid id); queries search only their own
    centroid's inverted list. The shuffle is keyed on centroid_id —
    bounded fan-out, no O(n^2) pair space. The assignment is the
    materialized index (``_ivf_assigned``); the search self-joins it."""
    assigned = _ivf_assigned(spark, sf_dir)
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "centroid_id",
    )
    cands = assigned.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"), "centroid_id"
    )
    pairs = q.join(cands, "centroid_id").filter(F.col("query_id") != F.col("cand_id"))
    scored_p = pairs.select(
        "query_id", "cand_id", "centroid_id",
        cos_micro("q_emb", "c_emb").alias("cos_micro"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_micro"), F.asc("cand_id"))
    return (
        scored_p.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "cand_id", "centroid_id", "cos_micro", "rank")
    )


ORACLE_ANN_IVF = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cent_emb
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {sql_cos_micro('e.embedding', 'c.cent_emb')} AS cm
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cm DESC, centroid_id ASC) AS rn
    FROM scored
  ) x WHERE rn = 1
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.centroid_id,
         {sql_cos_micro('q.embedding', 'c.embedding')} AS cos_micro
  FROM assigned q JOIN assigned c
    ON q.centroid_id = c.centroid_id AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, cand_id, centroid_id, cos_micro,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_micro DESC, cand_id ASC) AS rank
  FROM pairs
) r WHERE rank <= 3
"""


N_PLANES = 8


def _hplane_comp(j: int):
    """Deterministic pseudo-random hyperplane component for plane j at
    element index i (0-based): ((j*1009 + i*9176) % 2003) - 1001.
    Integer arithmetic — bit-identical in Spark and DuckDB."""
    return lambda x, i: x * (
        ((F.lit(j * 1009) + i * 9176) % 2003 - 1001).cast("double")
    )


def _hplane_signature(col_name: str):
    """The 8-plane sign-bit bucket expression over an embedding column
    NAME — a pure function of the name, memoized per session
    (session.expr_memo): the 8 aggregate-over-transform folds cost
    ~0.4 s of py4j chatter per construction, the single biggest
    construction cost in the LSH ANN family (r15 profile)."""
    from ..session import expr_memo

    def build():
        emb = F.col(col_name)
        bits = []
        for j in range(N_PLANES):
            dot = F.aggregate(
                F.transform(emb, _hplane_comp(j)),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            )
            bits.append(F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out.cast("long")

    return expr_memo(("hplane_signature", col_name), build)


def q_ann_lsh(spark, sf_dir):
    """Random-hyperplane (SimHash-for-vectors) LSH ANN: an 8-bit
    signature from sign(v·h_j) buckets the corpus; queries compare
    only within their bucket. The shuffle is keyed on the 256-value
    bucket id — the third scale strategy next to brute-force and IVF
    (hyperplanes are fixed pseudo-random; recall tunes via
    bands-of-bits exactly like MinHash banding)."""
    e = _emb(spark, sf_dir)
    sig = e.select(
        "vec_id", "embedding", _hplane_signature("embedding").alias("bucket")
    )
    q = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), "bucket"
    )
    c = sig.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"), "bucket"
    )
    pairs = q.join(c, "bucket").filter(F.col("query_id") != F.col("cand_id"))
    scored = pairs.select(
        "query_id", "cand_id", "bucket",
        cos_micro("q_emb", "c_emb").alias("cos_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_micro"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "cand_id", "bucket", "cos_micro", "rank")
    )


def _sql_dot_plane(e: str, j: int) -> str:
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({e})), "
        f"i -> CAST({e}[i] AS DOUBLE) * ((({j * 1009} + (i-1)*9176) % 2003) - 1001)"
        ")), (acc, x) -> acc + x)"
    )


_SQL_SIG = " + ".join(
    f"(CASE WHEN {_sql_dot_plane('embedding', j)} >= 0 THEN {1 << j} ELSE 0 END)"
    for j in range(N_PLANES)
)

ORACLE_ANN_LSH = f"""
WITH sig AS (
  SELECT vec_id, embedding, CAST({_SQL_SIG} AS BIGINT) AS bucket
  FROM embeddings
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.bucket,
         {sql_cos_micro('q.embedding', 'c.embedding')} AS cos_micro
  FROM sig q JOIN sig c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, cand_id, bucket, cos_micro, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_micro DESC, cand_id ASC) AS rank
  FROM pairs
) r WHERE rank <= 3
"""


VEC_SCALE = 1 << 20  # quantization scale for the vectorized path


def vec_quantize(arr):
    """float embeddings -> (Q, norms): floor(x * VEC_SCALE + 0.5) as
    integer-valued float64 (exact dots at dim 64, |x| < 1: products
    < 2^40, partial sums < 2^53). ONE home for the exactness-critical
    quantize step — q_ann_cosine_topk_vec and the streaming IVF
    insert share it (two hand-kept copies is how cross-engine parity
    drifts)."""
    import numpy as np

    Q = np.floor(np.asarray(arr, dtype=np.float64) * VEC_SCALE + 0.5)
    return Q, np.sqrt((Q * Q).sum(axis=1))


def vec_scores_micro(Q, qn, C, cn):
    """floor(1e6 * (Q @ C.T) / (|q| |c|)) as int64 — the same IEEE op
    sequence as ``sql_quant_cos_micro``."""
    import numpy as np

    return np.floor(
        (1e6 * (Q @ C.T)) / (qn[:, None] * cn[None, :])
    ).astype(np.int64)


def sql_quant_cos_micro(a: str, b: str) -> str:
    """DuckDB twin of ``vec_scores_micro`` over ``sql_quant_iv``
    vectors."""
    return (
        f"CAST(floor(1000000.0 * list_dot_product({a}, {b}) /\n"
        f"              (sqrt(list_dot_product({a}, {a})) *\n"
        f"               sqrt(list_dot_product({b}, {b})))) AS BIGINT)"
    )


def sql_quant_iv() -> str:
    """The quantized-embedding CTE shared by every vec-twin oracle."""
    return f"""iv AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> floor(CAST(x AS DOUBLE) * {VEC_SCALE} + 0.5)) AS v
  FROM embeddings
)"""


def q_ann_cosine_topk_vec(spark, sf_dir):
    """Brute-force top-k, VECTORIZED: per-partition numpy matmul via
    ``mapInPandas`` with a broadcast query matrix, emitting each
    partition's local top-k only — the true 100 TB shape (the
    interpreted per-pair cosine fold costs ~µs/pair; one BLAS matmul
    scores a whole Arrow batch at memory bandwidth, and the shuffle
    carries partitions x queries x k rows, not the pair space).

    Cross-engine exactness: embeddings are quantized to integer-valued
    doubles (floor(x * 2^20 + 0.5)); with dim 64 and |x| < 1 every
    product is < 2^40 and every partial sum < 2^53, so float64 dot
    products are EXACT and order-independent — numpy matmul, the
    DuckDB fold, and any BLAS kernel agree bit-for-bit. The final
    score floor(1e6 * dot / (sqrt(nq) * sqrt(nc))) is the same IEEE
    op sequence in both engines."""
    import numpy as np

    e = _emb(spark, sf_dir)
    # The query batch is collected + broadcast: it is the small side
    # by construction (a serving batch), never the corpus.
    q_rows = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    Q, qn = vec_quantize([r.embedding for r in q_rows])
    bc = spark.sparkContext.broadcast((qids, Q, qn))

    def score(batches):
        import pandas as pd

        bqids, bQ, bqn = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            cids = pdf["vec_id"].to_numpy(dtype=np.int64)
            C, cn = vec_quantize(np.stack(pdf["embedding"].to_numpy()))
            scores = vec_scores_micro(bQ, bqn, C, cn)
            out_q, out_c, out_s = [], [], []
            k = TOPK
            for qi in range(len(bqids)):
                mask = cids != bqids[qi]
                sc, cc = scores[qi][mask], cids[mask]
                # local top-k under the SAME total order as the global
                # window: (score desc, cand_id asc)
                order = np.lexsort((cc, -sc))[:k]
                out_q.extend([bqids[qi]] * len(order))
                out_c.extend(cc[order])
                out_s.extend(sc[order])
            yield pd.DataFrame(
                {"query_id": out_q, "cand_id": out_c, "cos_micro": out_s}
            )

    local = e.mapInPandas(
        score, "query_id long, cand_id long, cos_micro long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_micro"), F.asc("cand_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "cand_id", "cos_micro", "rank")
    )


ORACLE_ANN_TOPK_VEC = f"""
WITH {sql_quant_iv()},
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         {sql_quant_cos_micro('q.v', 'c.v')} AS cos_micro
  FROM iv q JOIN iv c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY cos_micro DESC, cand_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, cand_id, cos_micro, rank FROM ranked WHERE rank <= {TOPK}
"""


def q_embedding_label_stats(spark, sf_dir):
    """Per-label embedding centroids — the training-data diagnostic
    for class balance and cluster tightness (and the IVF assignment
    input shape). Float sums are order-dependent, so components are
    quantized to integer micro-units FIRST and summed exactly: the
    unnest-with-position turns the array column into (label, dim,
    micro) rows and the rest is one map-side-combinable aggregation —
    no float nondeterminism, no UDF, one shuffle keyed (label, dim)."""
    from ..session import read_table

    e = read_table(spark, os.path.join(sf_dir, "embeddings.parquet"))
    dim_val = F.posexplode(
        F.transform("embedding", lambda x: F.round(x.cast("double") * 1_000_000).cast("long"))
    )
    return (
        e.select(F.col("label").cast("long").alias("label"), dim_val.alias("dim", "micro"))
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("micro").cast("long").alias("sum_micro"),
            F.min("micro").cast("long").alias("min_micro"),
            F.max("micro").cast("long").alias("max_micro"),
        )
        .withColumn("dim", F.col("dim").cast("long"))
        .withColumn(
            "centroid_micro",
            F.floor(F.col("sum_micro") / F.col("n")).cast("long"),
        )
    )


ORACLE_EMBEDDING_LABEL_STATS = """
WITH comp AS (
  SELECT CAST(label AS BIGINT) AS label,
         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS micro
  FROM embeddings
)
SELECT label, dim,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(micro) AS BIGINT) AS sum_micro,
       CAST(min(micro) AS BIGINT) AS min_micro,
       CAST(max(micro) AS BIGINT) AS max_micro,
       CAST(floor(sum(micro) / count(*)) AS BIGINT) AS centroid_micro
FROM comp GROUP BY label, dim
"""


QUERIES = {
    "embedding_label_stats": q_embedding_label_stats,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_cosine_topk_vec": q_ann_cosine_topk_vec,
    "ann_ivf": q_ann_ivf,
    "ann_lsh": q_ann_lsh,
}

ORACLES = {
    "embedding_label_stats": ORACLE_EMBEDDING_LABEL_STATS,
    "ann_cosine_topk": ORACLE_ANN_TOPK,
    "ann_cosine_topk_vec": ORACLE_ANN_TOPK_VEC,
    "ann_ivf": ORACLE_ANN_IVF,
    "ann_lsh": ORACLE_ANN_LSH,
}


# --- product quantization (round 5) ---------------------------------------

# Defaults set from the measured r10 sweep (PLANS.md round-10): the
# r9 toy codebook (M=4 x 16-dim subvectors, K=4) capped compound
# recall@3 at 0.33-0.48 however NPROBE/rerank were turned; the sweep
# showed subvector WIDTH dominates (finer M=16 x 4-dim subvectors at
# K=64 beat M=4 at K=256), and with rerank C=30 the shipped point
# measures recall@3 = 0.967 at sf0.1 (1.00 at C=50; exact-L2 ceiling
# 1.00, so the residual loss is purely quantization). Knob order from
# measurement: PQ_M/subdim first, then PQ_K, then C, then NPROBE.
PQ_M = 16       # subvectors per embedding
PQ_SUBDIM = 4   # dims per subvector (PQ_M * PQ_SUBDIM = embedding dim)
PQ_K = 64       # centroids per subvector codebook
PQ_ITERS = 2    # Lloyd iterations


def _pq_comp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, dim, q): embeddings split into PQ_M subvectors,
    components quantized to exact integer micro-units (the same
    discipline as embedding_label_stats — no float sums anywhere)."""
    e = _emb(spark, sf_dir)
    dim_val = F.posexplode(
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
        )
    )
    return e.select("vec_id", dim_val.alias("gdim", "q")).select(
        "vec_id",
        (F.col("gdim") / PQ_SUBDIM).cast("int").alias("m"),
        (F.col("gdim") % PQ_SUBDIM).cast("int").alias("dim"),
        "q",
    )


def _pq_train(spark: SparkSession, sf_dir: str):
    """Integer-exact Lloyd iterations. Assignment and centroid updates
    are distributed (keyed shuffles on (vec_id, m) and (m, cid, dim));
    only the codebook itself — PQ_M*PQ_K*PQ_SUBDIM = 256 values,
    inherently tiny at ANY corpus size — round-trips through the
    driver per iteration (the same global-argmax pattern as BPE).
    Empty clusters keep their previous centroid. Distances are exact
    int64 squared-L2; updates floor(sum/n) on an exact double divide
    — bit-identical cross-engine, so the whole iterative training
    sits under the hash gate (PageRank discipline). The trained
    (comp, codebook) pair is memoized per (session, embeddings
    input_key) — three queries (codebooks/codes/ann_pq) share one
    training run, and rewriting the embeddings in-session retrains."""
    from ..session import input_key, plan_memo

    return plan_memo(
        spark,
        ("pq_train", *input_key(_emb_path(sf_dir))),
        lambda: _pq_train_impl(spark, sf_dir),
    )


def _pq_train_impl(spark: SparkSession, sf_dir: str):
    return _lloyd_train(spark, _pq_comp(spark, sf_dir))


def _lloyd_train(spark: SparkSession, comp_df: DataFrame):
    """The integer-exact Lloyd loop over ANY (vec_id, m, dim, q)
    component relation — raw components (`_pq_comp`) or IVF residuals
    (`_rpq_comp`); seeds/updates/tie-breaks identical, so one oracle
    CTE chain (`_pq_oracle_ctes`) mirrors both by swapping the comp
    CTE."""
    comp = comp_df.persist()
    # seeds: the first PQ_K vectors' subvectors
    cents = {
        (r["m"], int(r["vec_id"]), r["dim"]): r["q"]
        for r in comp.filter(F.col("vec_id") < PQ_K).collect()
    }
    for _ in range(PQ_ITERS):
        cdf = spark.createDataFrame(
            [(m, c, d, v) for (m, c, d), v in sorted(cents.items())],
            "m int, cid int, dim int, c long",
        )
        diff = F.col("q") - F.col("c")
        assign = (
            comp.join(F.broadcast(cdf), ["m", "dim"])
            .groupBy("vec_id", "m", "cid")
            .agg(F.sum(diff * diff).cast("long").alias("d2"))
            .groupBy("vec_id", "m")
            .agg(F.min_by("cid", F.struct("d2", "cid")).alias("cid"))
        )
        sums = (
            comp.join(assign, ["vec_id", "m"])
            .groupBy("m", "cid", "dim")
            .agg(
                F.sum("q").cast("long").alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .select(
                "m", "cid", "dim",
                F.floor(F.col("s").cast("double") / F.col("n").cast("double"))
                .cast("long").alias("c"),
            )
            .collect()
        )
        new_cents = dict(cents)  # empty clusters keep previous centroid
        for r in sums:
            new_cents[(r["m"], r["cid"], r["dim"])] = r["c"]
        cents = new_cents
    return comp, cents


def q_pq_codebooks(spark, sf_dir):
    """PQ codebook training under the hash gate — the memory-scale
    path for embedding search (64 dims -> PQ_M byte codes). The
    oracle replays every Lloyd iteration as unrolled CTEs, so a hash
    match proves assignment, update, tie-breaks and empty-cluster
    handling all agree across engines."""
    _comp, cents = _pq_train(spark, sf_dir)
    rows = [(m, c, d, v) for (m, c, d), v in sorted(cents.items())]
    return spark.createDataFrame(
        rows, "m long, cid long, dim long, c_micro long"
    ).orderBy("m", "cid", "dim")


def q_pq_codes(spark, sf_dir):
    """The ENCODE half of PQ: every vector's per-subvector nearest
    final centroid — the actual compressed representation (PQ_M small
    ints per vector instead of 64 floats; at 100 TB this is what the
    ANN index stores). Distributed assignment against the broadcast
    codebook; deterministic (distance, cid) tie-break."""
    comp, cents = _pq_train(spark, sf_dir)
    cdf = _cdf_of(spark, cents)
    diff = F.col("q") - F.col("c")
    out = (
        comp.join(F.broadcast(cdf), ["m", "dim"])
        .groupBy("vec_id", "m", "cid")
        .agg(F.sum(diff * diff).cast("long").alias("d2"))
        .groupBy("vec_id", "m")
        .agg(
            F.min_by("cid", F.struct("d2", "cid")).cast("long").alias("cid"),
            F.min(F.struct("d2", "cid")).getField("d2").alias("d2"),
        )
        .select(
            "vec_id", F.col("m").cast("long").alias("m"), "cid",
            F.col("d2").cast("long").alias("d2"),
        )
    )
    return out


def _pq_oracle_ctes(comp_ctes: list[str] | None = None) -> str:
    """The unrolled Lloyd CTE chain over a pluggable component
    relation: ``comp_ctes`` must end with a CTE named ``comp`` with
    columns (vec_id, m, dim, q) — default raw micro components;
    ``_ivf_rpq_oracle`` passes the IVF-residual chain instead."""
    if comp_ctes is None:
        comp_ctes = [f"""comp AS (
  SELECT vec_id,
         CAST((generate_subscripts(embedding, 1) - 1) // {PQ_SUBDIM} AS INT) AS m,
         CAST((generate_subscripts(embedding, 1) - 1) % {PQ_SUBDIM} AS INT) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings
)"""]
    ctes = [*comp_ctes, f"""c_0 AS (
  SELECT m, CAST(vec_id AS INT) AS cid, dim, q AS c
  FROM comp WHERE vec_id < {PQ_K}
)"""]
    for it in range(1, PQ_ITERS + 1):
        p = it - 1
        ctes.append(f"""d_{it} AS (
  SELECT vec_id, comp.m, cid, CAST(sum((q - c) * (q - c)) AS BIGINT) AS d2
  FROM comp JOIN c_{p} ON comp.m = c_{p}.m AND comp.dim = c_{p}.dim
  GROUP BY vec_id, comp.m, cid
)""")
        ctes.append(f"""a_{it} AS (
  SELECT vec_id, m, cid FROM d_{it}
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) = 1
)""")
        ctes.append(f"""s_{it} AS (
  SELECT comp.m, cid, dim,
         CAST(floor(CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS c
  FROM comp JOIN a_{it} ON comp.vec_id = a_{it}.vec_id AND comp.m = a_{it}.m
  GROUP BY comp.m, cid, dim
)""")
        ctes.append(f"""c_{it} AS (
  SELECT c_{p}.m, c_{p}.cid, c_{p}.dim, coalesce(s_{it}.c, c_{p}.c) AS c
  FROM c_{p} LEFT JOIN s_{it}
    ON c_{p}.m = s_{it}.m AND c_{p}.cid = s_{it}.cid AND c_{p}.dim = s_{it}.dim
)""")
    return "WITH " + ",\n".join(ctes)


ORACLE_PQ_CODEBOOKS = _pq_oracle_ctes() + f"""
SELECT CAST(m AS BIGINT) AS m, CAST(cid AS BIGINT) AS cid,
       CAST(dim AS BIGINT) AS dim, c AS c_micro
FROM c_{PQ_ITERS}
ORDER BY m, cid, dim
"""

ORACLE_PQ_CODES = _pq_oracle_ctes() + f""",
d_final AS (
  SELECT vec_id, comp.m, cid, CAST(sum((q - c) * (q - c)) AS BIGINT) AS d2
  FROM comp JOIN c_{PQ_ITERS} ON comp.m = c_{PQ_ITERS}.m AND comp.dim = c_{PQ_ITERS}.dim
  GROUP BY vec_id, comp.m, cid
)
SELECT vec_id, CAST(m AS BIGINT) AS m, CAST(cid AS BIGINT) AS cid, d2
FROM d_final
QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) = 1
"""

QUERIES["pq_codebooks"] = q_pq_codebooks
QUERIES["pq_codes"] = q_pq_codes
ORACLES["pq_codebooks"] = ORACLE_PQ_CODEBOOKS
ORACLES["pq_codes"] = ORACLE_PQ_CODES


def _pq_codes_assigned(spark, sf_dir) -> DataFrame:
    """(vec_id, m, cid): the PQ-ENCODED CORPUS — the index content a
    100 TB deployment actually persists (PQ_M small ints per vector).
    Build-once/probe-many artifact memoized + persisted through the
    one registry (the _ivf_assigned stance): ann_pq, IVFADC and the
    rerank/eval family all probe the same encoding; before this memo
    each call re-ran the encode groupBys over the full component
    relation per bench rep. Its ``plan_key`` carries the embeddings
    listing, so an in-session rewrite re-encodes with the retrained
    codebook."""
    return _codes_assigned(spark, sf_dir, "pq_codes_assigned", _pq_train)


def _rpq_codes_assigned(spark, sf_dir) -> DataFrame:
    """Residual-PQ twin of ``_pq_codes_assigned`` (same artifact
    stance, residual component relation)."""
    return _codes_assigned(spark, sf_dir, "rpq_codes_assigned", _rpq_train)


def _codes_assigned(spark, sf_dir, name: str, train) -> DataFrame:
    from ..session import plan_key, plan_memo

    def build():
        comp, cents = train(spark, sf_dir)
        c = _codes_from(comp, cents).persist()
        c.count()
        return c

    key = plan_key(_emb(spark, sf_dir), name, PQ_M, PQ_K)
    return plan_memo(spark, key, build)


def q_ann_pq(spark, sf_dir):
    """ANN via PQ asymmetric distance (ADC): queries score the corpus
    through a per-(query, subvector, centroid) lookup table instead of
    touching raw vectors — the memory-bounded search PQ exists for (at
    100 TB the index holds PQ_M small ints per vector; the distance
    table is n_queries*PQ_M*PQ_K rows, always broadcastable). Exact
    int64 distances, (distance, vec_id) deterministic ranking, top-K
    per query. Codebook + codes come from the gated training run."""
    comp, cents = _pq_train(spark, sf_dir)
    cdf = _cdf_of(spark, cents)
    codes = _pq_codes_assigned(spark, sf_dir)
    # per-(query, m, cid) distance table — tiny, broadcast
    qcomp = comp.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), "m", "dim", F.col("q").alias("qq")
    )
    qtab = (
        qcomp.join(F.broadcast(cdf), ["m", "dim"])
        .groupBy("qid", "m", "cid")
        .agg(
            F.sum((F.col("qq") - F.col("c")) * (F.col("qq") - F.col("c")))
            .cast("long").alias("qd2")
        )
    )
    scored = (
        codes.join(F.broadcast(qtab), ["m", "cid"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("qd2").cast("long").alias("adc"))
        .filter(F.col("qid") != F.col("vec_id"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOPK)
        .select("qid", "vec_id", "adc", "rnk")
    )


ORACLE_ANN_PQ = _pq_oracle_ctes() + f""",
d_final AS (
  SELECT vec_id, comp.m, cid, CAST(sum((q - c) * (q - c)) AS BIGINT) AS d2
  FROM comp JOIN c_{PQ_ITERS} ON comp.m = c_{PQ_ITERS}.m AND comp.dim = c_{PQ_ITERS}.dim
  GROUP BY vec_id, comp.m, cid
),
codes AS (
  SELECT vec_id, m, cid FROM d_final
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) = 1
),
qtab AS (
  SELECT comp.vec_id AS qid, comp.m, cid,
         CAST(sum((q - c) * (q - c)) AS BIGINT) AS qd2
  FROM comp JOIN c_{PQ_ITERS} ON comp.m = c_{PQ_ITERS}.m AND comp.dim = c_{PQ_ITERS}.dim
  WHERE comp.vec_id < {N_QUERIES}
  GROUP BY comp.vec_id, comp.m, cid
),
scored AS (
  SELECT qid, codes.vec_id, CAST(sum(qd2) AS BIGINT) AS adc
  FROM codes JOIN qtab ON codes.m = qtab.m AND codes.cid = qtab.cid
  GROUP BY qid, codes.vec_id
)
SELECT qid, vec_id, adc,
       CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS BIGINT)
         AS rnk
FROM scored
WHERE qid <> vec_id
QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) <= {TOPK}
"""

QUERIES["ann_pq"] = q_ann_pq
ORACLES["ann_pq"] = ORACLE_ANN_PQ


SEM_THRESH_MICRO = 300_000  # within-cluster cosine cut for "semantic dup"


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space, then compare vectors
    only WITHIN their cluster; a vector is a semantic duplicate if any
    lower-id vector in its cluster has cosine >= SEM_THRESH_MICRO.
    ``dup_of`` is the smallest such neighbor (-1 for keepers) — the
    keeper a deduper would collapse it into.

    Plan at 100 TB: reuses the memoized IVF assignment
    (``_ivf_assigned``) as the cluster index — clustering is the step
    that makes semantic dedup feasible at scale, because the pair
    space is bounded by the largest cluster, not the corpus. The
    self-join shuffles on centroid_id only; no all-pairs anywhere.
    Skewed (giant) clusters would be re-split by a second-level
    assignment — not needed at this SF, noted as the known lever."""
    assigned = _ivf_assigned(spark, sf_dir)
    a = assigned.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        "centroid_id",
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        "centroid_id",
    )
    close = (
        a.join(b, "centroid_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_b", "vec_a",
            cos_micro("emb_a", "emb_b").alias("cm"),
        )
        .filter(F.col("cm") >= SEM_THRESH_MICRO)
    )
    dup_of = close.groupBy("vec_b").agg(F.min("vec_a").alias("dup_of"))
    return assigned.join(
        dup_of, assigned["vec_id"] == dup_of["vec_b"], "left"
    ).select(
        "vec_id",
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.coalesce(F.col("dup_of"), F.lit(-1)).cast("long").alias("dup_of"),
        F.col("dup_of").isNotNull().cast("long").alias("is_dup"),
    )


ORACLE_DEDUP_SEMANTIC = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cent_emb
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         {sql_cos_micro('e.embedding', 'c.cent_emb')} AS cm
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cm DESC, centroid_id ASC) AS rn
    FROM scored
  ) x WHERE rn = 1
),
close_p AS (
  SELECT b.vec_id AS vec_b, a.vec_id AS vec_a
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE {sql_cos_micro('a.embedding', 'b.embedding')} >= {SEM_THRESH_MICRO}
),
dup_of AS (
  SELECT vec_b, CAST(min(vec_a) AS BIGINT) AS dup_of
  FROM close_p GROUP BY vec_b
)
SELECT s.vec_id, CAST(s.centroid_id AS BIGINT) AS centroid_id,
       CAST(coalesce(d.dup_of, -1) AS BIGINT) AS dup_of,
       CAST(CASE WHEN d.dup_of IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
FROM assigned s LEFT JOIN dup_of d ON s.vec_id = d.vec_b
"""

QUERIES["dedup_semantic"] = q_dedup_semantic
ORACLES["dedup_semantic"] = ORACLE_DEDUP_SEMANTIC


# --- k-means clustering, exact integer-micro space (round 8) ---------------
#
# Lloyd's k-means over the embedding table — the clustering primitive
# behind cluster-balanced sampling, SemDeDup-style pruning, and IVF
# list training ("Deduplicating..." appendix; DiverseEvol etc.). The
# IVF index above uses FIXED centroids (vec_id < N_CENTROIDS); this
# operator actually ITERATES the centroid update, under the full
# cross-engine hash gate — possible because everything runs in exact
# integer arithmetic:
#
# - vectors quantize to bigint micro-units once at the scan
#   (floor(x * 1e6); float->double->floor is bit-identical in both
#   engines);
# - distances are integer L2^2 sums (order-independent, max
#   ~(3e5)^2 * 64 ~ 5.8e12 << 2^63);
# - centroid updates are per-dimension integer sums (order-free)
#   followed by floor(sum/count) computed in double — exact because
#   |sum| < 2^53 — NOT Spark's `div`, whose truncation toward zero
#   disagrees with floor on negative sums.
#
# Assignment ties break on (dist, cluster_id) ascending. Cluster ids
# are the seed vectors' vec_ids (stable across rounds; a cluster that
# attracts no vectors simply disappears from later rounds — same
# algebra both engines).
#
# Plan at 100 TB: per round = one Arrow-batched assignment pass (the
# K x D centroid table is broadcast as a numpy int64 array — the
# corpus never shuffles for assignment, and exact int64 squared
# distances plus a (dist, cluster_id) argmin run per batch) + one
# (cluster, dim)-keyed partial-agg shuffle bounded by K x D groups,
# collected to the driver as the next round's centroids (bounded
# driver-hosted state, the PQ-codebook precedent; it also keeps the
# lineage flat). Rounds are a fixed unrolled count (PageRank
# discipline: the oracle unrolls the same rounds as MATERIALIZED
# CTEs). The assignment is numpy, not a Column zip_with/aggregate
# fold: the fold is interpreted per element and measured 24.3 s
# against 2.2 s at 10x scale (PLANS.md round 8).

KMEANS_K = 64        # seed set: vec_id < KMEANS_K (fixed size, see header)
KMEANS_ROUNDS = 2    # assignment passes (centroids update between)


def _micro_vec(col):
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long")
    )


def q_kmeans_clusters(spark, sf_dir):
    """Final-round assignment (vec_id, cluster_id, dist_sq) after
    KMEANS_ROUNDS Lloyd iterations from the deterministic seed set.
    Memoized per (session, input plan) — the assignment is a
    build-once/consume-many artifact (cluster_balanced_sample reads
    it; the _ivf_assigned precedent)."""
    import numpy as np
    import pandas as pd

    from ..session import plan_key, plan_memo

    e0 = _emb(spark, sf_dir)
    e = e0.select("vec_id", _micro_vec(F.col("embedding")).alias("em"))
    schema = "vec_id long, em array<long>, cluster_id long, dist_sq long"

    def assign(cent_rows):
        # centroid ids iterate ascending so the strict-< update below
        # is the (dist, cluster_id) argmin
        cent_rows = sorted(cent_rows, key=lambda r: r["cluster_id"])
        bc = spark.sparkContext.broadcast((
            np.array([r["cluster_id"] for r in cent_rows], dtype=np.int64),
            np.array([r["cem"] for r in cent_rows], dtype=np.int64),
        ))

        def kernel(batches):
            cids, cents = bc.value
            for pdf in batches:
                # no seed centroids: nothing to assign (the oracle's
                # cross join with an empty seed set is empty)
                if pdf.empty or not len(cids):
                    continue
                em = np.array(pdf["em"].tolist(), dtype=np.int64)
                # (N, K, D) diffs are memory-heavy; loop K (small) instead
                n = len(pdf)
                best_d = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
                best_c = np.zeros(n, dtype=np.int64)
                for cid, cvec in zip(cids, cents):
                    d = ((em - cvec) ** 2).sum(axis=1)
                    upd = d < best_d
                    best_d = np.where(upd, d, best_d)
                    best_c = np.where(upd, cid, best_c)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "em": pdf["em"],
                        "cluster_id": best_c,
                        "dist_sq": best_d,
                    }
                )

        return e.mapInPandas(kernel, schema)

    def build():
        cent_rows = (
            e.filter(F.col("vec_id") < KMEANS_K)
            .select(F.col("vec_id").alias("cluster_id"), F.col("em").alias("cem"))
            .collect()
        )
        for _rnd in range(KMEANS_ROUNDS - 1):
            sums = (
                assign(cent_rows)
                .select("cluster_id", F.posexplode("em").alias("dim", "val"))
                .groupBy("cluster_id", "dim")
                .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            )
            cent_rows = (
                sums.select(
                    "cluster_id", "dim",
                    F.floor(F.col("s").cast("double") / F.col("n"))
                    .cast("long").alias("val"),
                )
                .groupBy("cluster_id")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "val"))),
                        lambda s: s["val"],
                    ).alias("cem")
                )
                .collect()
            )
        out = assign(cent_rows).select("vec_id", "cluster_id", "dist_sq").persist()
        out.count()
        return out

    return plan_memo(
        spark,
        plan_key(e0, "kmeans_assign", KMEANS_K, KMEANS_ROUNDS),
        build,
    )


def _kmeans_oracle() -> str:
    sql_l2 = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(generate_series(1, len({a})),"
        " i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i]))), (acc, x) -> acc + x)"
    )
    parts = [f"""
WITH em AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding,
         x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS em
  FROM embeddings
),
c_0 AS MATERIALIZED (
  SELECT vec_id AS cluster_id, em AS cem FROM em WHERE vec_id < {KMEANS_K}
)"""]
    for r in range(1, KMEANS_ROUNDS + 1):
        dist = sql_l2.format(a="e.em", b="c.cem")
        parts.append(f""",
s_{r} AS MATERIALIZED (
  SELECT e.vec_id, e.em, c.cluster_id, {dist} AS dist_sq
  FROM em e CROSS JOIN c_{r - 1} c
),
a_{r} AS MATERIALIZED (
  SELECT vec_id, em, cluster_id, dist_sq FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY dist_sq, cluster_id) AS rn
    FROM s_{r}
  ) WHERE rn = 1
)""")
        if r < KMEANS_ROUNDS:
            parts.append(f""",
u_{r} AS MATERIALIZED (
  SELECT cluster_id, t.i AS dim, sum(em[t.i]) AS s, count(*) AS n
  FROM a_{r}, UNNEST(generate_series(1, len(em))) AS t(i)
  GROUP BY cluster_id, t.i
),
c_{r} AS MATERIALIZED (
  SELECT cluster_id,
         list(CAST(floor(CAST(s AS DOUBLE)/n) AS BIGINT) ORDER BY dim) AS cem
  FROM u_{r} GROUP BY cluster_id
)""")
    parts.append(f"""
SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(dist_sq AS BIGINT) AS dist_sq
FROM a_{KMEANS_ROUNDS}
""")
    return "".join(parts)


QUERIES["kmeans_clusters"] = q_kmeans_clusters
ORACLES["kmeans_clusters"] = _kmeans_oracle()


# --- cluster-balanced sampling (round 8) -----------------------------------

CB_PER_CLUSTER = 20  # kept vectors per k-means cluster
CB_SEED = "cb1"


CB_SALTS = 16  # phase-1 fan-out; phase-2 windows see <= SALTS * M rows


def q_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced selection over the k-means assignment: keep at
    most CB_PER_CLUSTER vectors per final cluster, chosen by a seeded
    deterministic hash (tie-break vec_id) — the selection step that
    equalizes cluster mass in a training mix (what SemDeDup/D4-style
    curation runs after clustering, so rare modes aren't drowned by
    the head clusters).

    Plan at 100 TB: salted two-phase top-M, the distributed
    per-group top-k discipline. A single rank window per cluster_id
    would funnel the LARGEST cluster through one task (head clusters
    at web scale are huge); instead phase 1 ranks within (cluster,
    hash-salt) — partitions bounded by cluster/CB_SALTS — and keeps
    M per salt; phase 2 re-ranks the surviving <= SALTS*M rows per
    cluster (bounded by construction). Correct because the global
    hash-order top-M of a cluster is contained in the union of its
    per-salt top-Ms. Output is identical to the single-window form
    (shared oracle ranks globally)."""
    from ..functions.hashing import stable_hash64

    a = q_kmeans_clusters(spark, sf_dir)
    h = stable_hash64(
        F.concat(F.lit(CB_SEED + ":"), F.col("vec_id").cast("string"))
    )
    salted = a.withColumn("__h", h).withColumn(
        "__salt", F.pmod(F.col("__h"), F.lit(CB_SALTS))
    )
    w1 = Window.partitionBy("cluster_id", "__salt").orderBy(
        F.asc("__h"), F.asc("vec_id")
    )
    survivors = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= CB_PER_CLUSTER)
    )
    w2 = Window.partitionBy("cluster_id").orderBy(
        F.asc("__h"), F.asc("vec_id")
    )
    return (
        survivors.withColumn("pick_rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("pick_rank") <= CB_PER_CLUSTER)
        .select("vec_id", "cluster_id", "dist_sq", "pick_rank")
    )


def _cb_sample_oracle() -> str:
    from ..functions.hashing import sql_stable_hash64

    h = sql_stable_hash64(f"'{CB_SEED}:' || CAST(vec_id AS VARCHAR)")
    km = _kmeans_oracle().rstrip()
    return f"""
WITH km AS MATERIALIZED (
{km}
),
ranked AS (
  SELECT vec_id, cluster_id, dist_sq,
         CAST(row_number() OVER (
             PARTITION BY cluster_id ORDER BY {h}, vec_id) AS BIGINT)
           AS pick_rank
  FROM km
)
SELECT vec_id, cluster_id, dist_sq, pick_rank
FROM ranked WHERE pick_rank <= {CB_PER_CLUSTER}
"""


QUERIES["cluster_balanced_sample"] = q_cluster_balanced_sample
ORACLES["cluster_balanced_sample"] = _cb_sample_oracle()


# alias: k-means has one kernel (the numpy one above); the name stays
# declared and gated
QUERIES["kmeans_clusters_vec"] = q_kmeans_clusters
ORACLES["kmeans_clusters_vec"] = ORACLES["kmeans_clusters"]


# --- Johnson-Lindenstrauss random projection (round 8) ----------------------

JL_DIMS = 8


def q_jl_projection(spark, sf_dir):
    """Random-projection dimensionality reduction (the
    Johnson-Lindenstrauss compression step a 100 TB embedding store
    runs before ANN/clustering): project every embedding onto
    JL_DIMS deterministic pseudo-random integer hyperplanes — the
    SAME plane family the LSH signatures use (``_hplane_comp``),
    but keeping the dot VALUE instead of its sign. Components are
    exact int64: quantize x_i to micro units (floor(x*1e6)), multiply
    by the integer plane weight, sum — order-independent integer
    arithmetic, so the projected vectors are hash-exact cross-engine
    (|x|<=~1, weights <=1001, dims bounded -> no overflow).

    Plan at 100 TB: pure scan-stage map (one array fold per output
    dim, zero shuffles, zero joins) — compression cost is one read of
    the store; downstream ANN then works on JL_DIMS ints instead of
    D floats."""
    e = _emb(spark, sf_dir)

    def proj(j: int):
        return F.aggregate(
            F.transform(
                F.col("embedding"),
                lambda x, i: F.floor(x.cast("double") * 1000000.0)
                .cast("long")
                * ((F.lit(j * 1009) + i * 9176) % 2003 - 1001).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return e.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        *[proj(j).alias(f"p{j}") for j in range(JL_DIMS)],
    )


def _sql_jl_dot(j: int) -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(generate_series(1, len(embedding)), "
        f"i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)"
        f" * CAST((({j * 1009} + (i-1)*9176) % 2003) - 1001 AS BIGINT)"
        ")), (acc, x) -> acc + x)"
    )


ORACLE_JL = "SELECT vec_id, CAST(label AS BIGINT) AS label, " + ", ".join(
    f"CAST({_sql_jl_dot(j)} AS BIGINT) AS p{j}" for j in range(JL_DIMS)
) + " FROM embeddings"

QUERIES["jl_projection"] = q_jl_projection
ORACLES["jl_projection"] = ORACLE_JL


# --- ANN recall evaluation (round 8) ----------------------------------------

RECALL_K = 3  # evaluate approx top-3 against exact top-3


def _truth_topk(spark, sf_dir) -> DataFrame:
    """Exact brute-force top-RECALL_K ground truth shared by the four
    recall evals — memoized + persisted per (session, input plan)
    through the one cache registry (session.plan_memo), because truth
    is a build-once artifact consumed by every eval in the family (the
    _ivf_assigned / _pq_train stance; before the memo each eval
    recomputed the full brute-force scan per bench rep — the two
    slowest bench rows after simjoin in r10). Bounded: N_QUERIES x
    RECALL_K rows."""
    from ..session import plan_key, plan_memo

    e = _emb(spark, sf_dir)

    def build():
        t = (
            q_ann_cosine_topk(spark, sf_dir)
            .filter(F.col("rank") <= RECALL_K)
            .select("query_id", "cand_id", F.col("rank").alias("t_rank"))
            .persist()
        )
        t.count()
        return t

    return plan_memo(
        spark, plan_key(e, "ann_truth", N_QUERIES, RECALL_K), build
    )


def q_ann_recall_eval(spark, sf_dir):
    """Retrieval-quality evaluation of the LSH index against exact
    brute-force ground truth — the measurement loop every ANN
    deployment runs before trusting an approximate index: per query,
    recall@K (|approx top-K ∩ exact top-K| / K) and the reciprocal
    rank of the TRUE nearest neighbor in the approximate list (0 when
    the bucket missed it entirely). Composes two already-gated
    pipelines (``ann_cosine_topk`` as truth, ``ann_lsh`` as the
    system under test), so the metric layer itself is what this query
    proves; both metrics are exact integer micro units (K and ranks
    are integers — no float division).

    Plan at 100 TB: the truth side is whatever exact or
    gold-labelled subset the evaluation owns (here the brute top-K
    over the query sample, memoized once per session — _truth_topk);
    the metric joins are keyed on (query_id, cand_id) —
    query-sample-sized, never corpus-sized."""
    truth = _truth_topk(spark, sf_dir)
    approx = q_ann_lsh(spark, sf_dir).select(
        "query_id", "cand_id", F.col("rank").alias("a_rank")
    )
    return _recall_metrics(truth, approx)


def _recall_metrics(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """Shared metric layer: per-query recall@RECALL_K + true-NN
    reciprocal rank of ``approx`` against ``truth``.

    ONE truth⋈approx join feeds both metrics (r14 optimization,
    guide §2.4): the original two-join form (hits; then a second
    join filtered to t_rank == 1 for the reciprocal rank) evaluated
    the ``approx`` subtree TWICE per action — and approx is the full
    ANN pipeline under test, the most expensive lineage in each
    recall eval (ann_recall_eval_ivfrpq's before-plan shows the
    doubled IVF+RPQ scoring subtree: 18 parquet scan nodes / ~104
    exchanges). The merged aggregation is value-identical: truth has
    exactly one t_rank == 1 row per query, so
    max(when(t_rank == 1, div(1e6, a_rank))) over the matched rows
    is that row's reciprocal rank (or NULL when the index missed the
    true NN — coalesced to 0, as before)."""
    qids = truth.select("query_id").distinct()
    matched = (
        truth.join(approx, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.max(
                F.when(
                    F.col("t_rank") == 1,
                    F.expr("div(1000000, a_rank)"),
                )
            ).cast("long").alias("rr_micro"),
        )
    )
    return (
        qids.join(matched, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
            F.expr(
                f"div(coalesce(n_hits, 0) * 1000000, {RECALL_K})"
            ).cast("long").alias("recall_micro"),
            F.coalesce(F.col("rr_micro"), F.lit(0).cast("long"))
            .alias("rr_micro"),
        )
    )


ORACLE_ANN_RECALL = f"""
WITH truth AS (
  SELECT query_id, cand_id, rank AS t_rank
  FROM ({ORACLE_ANN_TOPK}) x WHERE rank <= {RECALL_K}
),
approx AS (
  SELECT query_id, cand_id, rank AS a_rank FROM ({ORACLE_ANN_LSH}) y
),
qids AS (SELECT DISTINCT query_id FROM truth),
hits AS (
  SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM truth t JOIN approx a
    ON t.query_id = a.query_id AND t.cand_id = a.cand_id
  GROUP BY t.query_id
),
rr AS (
  SELECT t.query_id, CAST(1000000 // a.a_rank AS BIGINT) AS rr_micro
  FROM truth t JOIN approx a
    ON t.query_id = a.query_id AND t.cand_id = a.cand_id
  WHERE t.t_rank = 1
)
SELECT q.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 1000000 // {RECALL_K} AS BIGINT)
         AS recall_micro,
       CAST(coalesce(rr.rr_micro, 0) AS BIGINT) AS rr_micro
FROM qids q
LEFT JOIN hits h ON q.query_id = h.query_id
LEFT JOIN rr ON q.query_id = rr.query_id
"""

QUERIES["ann_recall_eval"] = q_ann_recall_eval
ORACLES["ann_recall_eval"] = ORACLE_ANN_RECALL


# --- banded LSH + its measured recall (round 8) ------------------------------

N_LSH_BANDS = 2  # 8 sign bits -> 2 bands of 4


def q_ann_lsh_banded(spark, sf_dir):
    """Bands-of-bits LSH: the recall knob ``ann_lsh``'s docstring
    promises, implemented — the 8-bit signature splits into
    N_LSH_BANDS 4-bit bands and a pair is a candidate if it collides
    in ANY band (MinHash-banding OR-semantics applied to hyperplane
    signatures). Recall rises because one flipped sign bit can no
    longer hide a neighbor unless it hits EVERY band; the measured
    effect is the ``ann_recall_eval`` vs ``ann_recall_eval_banded``
    delta in the gated rows.

    Plan: band rows are a 2x fan-out of the signature scan; the
    candidate join is keyed on (band_idx, band_val) — 32 buckets —
    then pair-distinct before scoring, so a pair colliding in both
    bands is verified once."""
    e = _emb(spark, sf_dir)
    sig = e.select("vec_id", _hplane_signature("embedding").alias("sig"))
    bands = sig.select(
        "vec_id", F.lit(0).alias("b"), (F.col("sig") % 16).alias("v")
    ).unionByName(
        sig.select(
            "vec_id", F.lit(1).alias("b"),
            F.expr("sig div 16").alias("v"),
        )
    )
    q = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "b", "v"
    )
    c = bands.select(F.col("vec_id").alias("cand_id"), "b", "v")
    pairs = (
        q.join(c, ["b", "v"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    emb_q = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    emb_c = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
    scored = pairs.join(emb_q, "query_id").join(emb_c, "cand_id").select(
        "query_id", "cand_id",
        cos_micro("q_emb", "c_emb").alias("cos_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_micro"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "cand_id", "cos_micro", "rank")
    )


_SQL_BANDED_CANDS = f"""
sig AS (
  SELECT vec_id, ({_SQL_SIG}) AS sig FROM embeddings
),
bands AS (
  SELECT vec_id, 0 AS b, sig % 16 AS v FROM sig
  UNION ALL
  SELECT vec_id, 1 AS b, sig // 16 AS v FROM sig
),
pairs AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
  FROM bands q JOIN bands c ON q.b = c.b AND q.v = c.v
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
),
scored AS (
  SELECT p.query_id, p.cand_id,
         {sql_cos_micro('eq.embedding', 'ec.embedding')} AS cos_micro
  FROM pairs p
  JOIN embeddings eq ON eq.vec_id = p.query_id
  JOIN embeddings ec ON ec.vec_id = p.cand_id
)"""

ORACLE_ANN_LSH_BANDED = f"""
WITH {_SQL_BANDED_CANDS.strip()}
SELECT query_id, cand_id, cos_micro,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_micro DESC, cand_id ASC) AS rank
  FROM scored
) r WHERE rank <= 3
"""


def q_ann_recall_eval_banded(spark, sf_dir):
    """``ann_recall_eval`` with the banded index as the system under
    test — the banding knob's measured payoff, hash-gated."""
    truth = _truth_topk(spark, sf_dir)
    approx = q_ann_lsh_banded(spark, sf_dir).select(
        "query_id", "cand_id", F.col("rank").alias("a_rank")
    )
    return _recall_metrics(truth, approx)


ORACLE_ANN_RECALL_BANDED = f"""
WITH truth AS (
  SELECT query_id, cand_id, rank AS t_rank
  FROM ({ORACLE_ANN_TOPK}) x WHERE rank <= {RECALL_K}
),
approx AS (
  SELECT query_id, cand_id, rank AS a_rank
  FROM ({ORACLE_ANN_LSH_BANDED}) y
),
qids AS (SELECT DISTINCT query_id FROM truth),
hits AS (
  SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM truth t JOIN approx a
    ON t.query_id = a.query_id AND t.cand_id = a.cand_id
  GROUP BY t.query_id
),
rr AS (
  SELECT t.query_id, CAST(1000000 // a.a_rank AS BIGINT) AS rr_micro
  FROM truth t JOIN approx a
    ON t.query_id = a.query_id AND t.cand_id = a.cand_id
  WHERE t.t_rank = 1
)
SELECT q.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 1000000 // {RECALL_K} AS BIGINT)
         AS recall_micro,
       CAST(coalesce(rr.rr_micro, 0) AS BIGINT) AS rr_micro
FROM qids q
LEFT JOIN hits h ON q.query_id = h.query_id
LEFT JOIN rr ON q.query_id = rr.query_id
"""

QUERIES["ann_lsh_banded"] = q_ann_lsh_banded
ORACLES["ann_lsh_banded"] = ORACLE_ANN_LSH_BANDED
QUERIES["ann_recall_eval_banded"] = q_ann_recall_eval_banded
ORACLES["ann_recall_eval_banded"] = ORACLE_ANN_RECALL_BANDED


# --- IVFADC: IVF coarse partition + PQ asymmetric-distance scoring -------

NPROBE = 2  # centroids searched per query


def _ivf_pq_scored(spark, sf_dir):
    """IVFADC — the composition FAISS-style billion-scale ANN actually
    deploys (Jegou et al. 2011, "Product Quantization for Nearest
    Neighbor Search"): an IVF coarse quantizer bounds the candidate
    set (only the query's NPROBE closest centroids' inverted lists are
    touched) and PQ asymmetric distance scores those candidates from
    M small codes per vector instead of raw floats. The repo's
    ``ann_ivf`` (candidate bounding, nprobe=1, raw-vector scoring) and
    ``ann_pq`` (ADC scoring, NO candidate bounding) each demonstrate
    one half; this is the production shape where BOTH resource bounds
    hold at once: per-query work is O(sum of probed list sizes), and
    scoring memory is PQ_M ints per candidate. Non-residual variant
    (codes quantize raw vectors, not centroid residuals) — documented,
    and pinned by reusing the SAME gated artifacts as its parents:
    the memoized IVF assignment (``_ivf_assigned``) and the memoized
    PQ training run (``_pq_train``), so no third training pass exists.

    Plan at 100 TB: probes = queries x broadcast centroid table
    (tiny); candidates = probe list join keyed on centroid_id
    (bounded fan-out, the IVF promise); ADC = candidate join against
    codes keyed on vec_id then a broadcast lookup-table join keyed on
    (query, m, cid) — the distance table is n_queries*PQ_M*PQ_K rows,
    broadcastable at any corpus size; final top-K is a per-query
    window over the bounded candidate set. Deterministic tie-breaks
    throughout: probes (cos desc, centroid asc), ranking (adc asc,
    cand asc)."""
    assigned = _ivf_assigned(spark, sf_dir)
    e = _emb(spark, sf_dir)
    cent = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cent_emb"),
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.desc("cm"), F.asc("centroid_id")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id", "centroid_id",
            cos_micro("q_emb", "cent_emb").alias("cm"),
        )
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= NPROBE)
        .select("query_id", "centroid_id")
    )
    cands = (
        probes.join(
            assigned.select(
                F.col("vec_id").alias("cand_id"), "centroid_id"
            ),
            "centroid_id",
        )
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
    )
    comp, cents = _pq_train(spark, sf_dir)
    cdf = _cdf_of(spark, cents)
    codes = _pq_codes_assigned(spark, sf_dir)
    qcomp = comp.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "m", "dim", F.col("q").alias("qq")
    )
    qtab = (
        qcomp.join(F.broadcast(cdf), ["m", "dim"])
        .groupBy("query_id", "m", "cid")
        .agg(
            F.sum((F.col("qq") - F.col("c")) * (F.col("qq") - F.col("c")))
            .cast("long").alias("qd2")
        )
    )
    scored = (
        cands.join(codes.withColumnRenamed("vec_id", "cand_id"), "cand_id")
        .join(F.broadcast(qtab), ["query_id", "m", "cid"])
        .groupBy("query_id", "cand_id")
        .agg(F.sum("qd2").cast("long").alias("adc"))
    )
    return scored


def q_ann_ivf_pq(spark, sf_dir):
    """Top-K cut of the IVFADC scoring (docstring above)."""
    scored = _ivf_pq_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOPK)
        .select("query_id", "cand_id", "adc", "rnk")
    )


def _ivf_pq_oracle(k: int) -> str:
    return _pq_oracle_ctes() + f""",
cent AS (
  SELECT vec_id AS centroid_id, embedding AS cent_emb
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
ivf_scored AS (
  SELECT e.vec_id, c.centroid_id,
         {sql_cos_micro('e.embedding', 'c.cent_emb')} AS cm
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cm DESC, centroid_id ASC) AS rn
    FROM ivf_scored
  ) x WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, centroid_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cm DESC, centroid_id ASC) AS pr
    FROM ivf_scored WHERE vec_id < {N_QUERIES}
  ) y WHERE pr <= {NPROBE}
),
cands AS (
  SELECT p.query_id, a.vec_id AS cand_id
  FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
  WHERE p.query_id <> a.vec_id
),
d_final AS (
  SELECT vec_id, comp.m, cid, CAST(sum((q - c) * (q - c)) AS BIGINT) AS d2
  FROM comp JOIN c_{PQ_ITERS} ON comp.m = c_{PQ_ITERS}.m AND comp.dim = c_{PQ_ITERS}.dim
  GROUP BY vec_id, comp.m, cid
),
codes AS (
  SELECT vec_id, m, cid FROM d_final
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) = 1
),
qtab AS (
  SELECT comp.vec_id AS query_id, comp.m, cid,
         CAST(sum((q - c) * (q - c)) AS BIGINT) AS qd2
  FROM comp JOIN c_{PQ_ITERS} ON comp.m = c_{PQ_ITERS}.m AND comp.dim = c_{PQ_ITERS}.dim
  WHERE comp.vec_id < {N_QUERIES}
  GROUP BY comp.vec_id, comp.m, cid
),
adc_scored AS (
  SELECT cn.query_id, cn.cand_id, CAST(sum(qd2) AS BIGINT) AS adc
  FROM cands cn
  JOIN codes co ON cn.cand_id = co.vec_id
  JOIN qtab qt ON qt.query_id = cn.query_id
             AND qt.m = co.m AND qt.cid = co.cid
  GROUP BY cn.query_id, cn.cand_id
)
SELECT query_id, cand_id, adc,
       CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY adc, cand_id) AS BIGINT) AS rnk
FROM adc_scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id)
        <= {k}
"""


ORACLE_ANN_IVF_PQ = _ivf_pq_oracle(TOPK)

QUERIES["ann_ivf_pq"] = q_ann_ivf_pq
ORACLES["ann_ivf_pq"] = ORACLE_ANN_IVF_PQ


def q_ann_recall_eval_ivfpq(spark, sf_dir):
    """Measured retrieval quality of the IVFADC index against exact
    brute-force cosine ground truth — the number that justifies (or
    vetoes) deploying ``ann_ivf_pq`` at scale. Note what is being
    measured: BOTH approximations at once — the IVF candidate bound
    (a true neighbor outside the probed lists can never be returned)
    AND the PQ distance distortion (a candidate in-list can still be
    mis-ranked by quantized distances), against a truth set ranked by
    exact cosine while ADC ranks by quantized L2 — i.e. the evaluation
    answers the deployment question (does the compound index return
    the neighbors exact search would?), not the component questions
    its siblings answer for LSH banding (``ann_recall_eval`` /
    ``_banded``). Same gated metric layer (``_recall_metrics``), same
    integer-exact micro units.

    Measured at sf0.01 on the r9 toy codebook (M=4, K=4):
    recall@3 = 0.33 for IVFADC vs 1.00 for IVF-alone (exact scoring,
    nprobe=1) and 0.20 for PQ-alone — the loss is entirely PQ
    distortion, not the IVF candidate bound, and the bound even
    HELPS the quantized ranking by excluding distant vectors the
    codebook confuses with near ones (0.33 > 0.20). The r10 sweep
    (PLANS.md round-10) retuned the defaults from that decision:
    M=16 x 4-dim subvectors at K=64 lift ADC-only recall@3 to 0.60
    at sf0.1 and the reranked pipeline to 0.967 (exact-L2 ceiling
    1.00); subvector WIDTH dominates K, then C, then NPROBE."""
    truth = _truth_topk(spark, sf_dir)
    approx = q_ann_ivf_pq(spark, sf_dir).select(
        "query_id", "cand_id", F.col("rnk").alias("a_rank")
    )
    return _recall_metrics(truth, approx)


ORACLE_ANN_RECALL_IVFPQ = f"""
WITH truth AS (
  SELECT query_id, cand_id, rank AS t_rank
  FROM ({ORACLE_ANN_TOPK}) x WHERE rank <= {RECALL_K}
),
approx AS (
  SELECT query_id, cand_id, rnk AS a_rank
  FROM ({ORACLE_ANN_IVF_PQ}) y
),
qids AS (SELECT DISTINCT query_id FROM truth),
hits AS (
  SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM truth t JOIN approx a
    ON t.query_id = a.query_id AND t.cand_id = a.cand_id
  GROUP BY t.query_id
),
rr AS (
  SELECT t.query_id, CAST(1000000 // a.a_rank AS BIGINT) AS rr_micro
  FROM truth t JOIN approx a
    ON t.query_id = a.query_id AND t.cand_id = a.cand_id
  WHERE t.t_rank = 1
)
SELECT q.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 1000000 // {RECALL_K} AS BIGINT)
         AS recall_micro,
       CAST(coalesce(rr.rr_micro, 0) AS BIGINT) AS rr_micro
FROM qids q
LEFT JOIN hits h ON q.query_id = h.query_id
LEFT JOIN rr ON q.query_id = rr.query_id
"""

QUERIES["ann_recall_eval_ivfpq"] = q_ann_recall_eval_ivfpq
ORACLES["ann_recall_eval_ivfpq"] = ORACLE_ANN_RECALL_IVFPQ


RERANK_C = 30  # ADC shortlist size handed to the exact re-ranker
#                (3x over-fetch at the old toy codebook; with the r10
#                defaults above it measures recall@3 = 0.967 at sf0.1)


def q_ann_ivf_pq_rerank(spark, sf_dir):
    """The refine stage that completes the IVFADC pipeline (Jegou et
    al. 2011 §VI; every production FAISS deployment): ADC ranks the
    probed lists cheaply, the top RERANK_C shortlist is re-scored with
    EXACT cosine on the raw vectors, and the final top-K comes from
    the exact scores — bought for RERANK_C exact distances per query.

    Measured honestly on the r9 toy codebook (PLANS.md r9, sf0.01):
    recall@3 improved only 0.33 -> 0.47 at C = 3x over-fetch — the
    M=4/K=4 codebook was so coarse (256 distinct ADC values, heavy
    ties) that true neighbors ranked near the BOTTOM of the probed
    lists (truth-in-shortlist 7/11/12/14/15 of 15 at
    C = 15/30/50/80/120). The r10 sweep turned that curve into the
    shipped defaults (PLANS.md round-10): with M=16/K=64 and C=30
    the reranked recall@3 measures 0.967 at sf0.1 (1.00 at C=50;
    exact-L2 ceiling 1.00 — misses are ADC ordering, never candidate
    pruning). Knob order from measurement: PQ_M/subdim, then PQ_K,
    then C, then NPROBE.

    Plan at 100 TB: shortlist = the gated ADC ranking cut at RERANK_C
    (per-query bounded); the raw-vector fetch is ONE equi-join of a
    (n_queries x C)-row relation against the corpus keyed on vec_id;
    exact scoring touches C vectors per query instead of the probed
    lists' full length — the memory/compute trade PQ exists for, kept
    end to end."""
    w_adc = Window.partitionBy("query_id").orderBy(
        F.asc("adc"), F.asc("cand_id")
    )
    shortlist = (
        _ivf_pq_scored(spark, sf_dir)
        .withColumn("rnk", F.row_number().over(w_adc))
        .filter(F.col("rnk") <= RERANK_C)
        .select("query_id", "cand_id")
    )
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    scored = (
        shortlist.join(c, "cand_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id", "cand_id",
            cos_micro("q_emb", "c_emb").alias("cos_micro"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_micro"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "cand_id", "cos_micro", "rank")
    )


ORACLE_ANN_IVF_PQ_RERANK = f"""
WITH shortlist AS (
  SELECT query_id, cand_id FROM ({_ivf_pq_oracle(RERANK_C)}) s
),
scored AS (
  SELECT sl.query_id, sl.cand_id,
         {sql_cos_micro('q.embedding', 'c.embedding')} AS cos_micro
  FROM shortlist sl
  JOIN embeddings c ON c.vec_id = sl.cand_id
  JOIN embeddings q ON q.vec_id = sl.query_id
)
SELECT query_id, cand_id, cos_micro,
       CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY cos_micro DESC, cand_id ASC) AS BIGINT) AS rank
FROM scored
QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cos_micro DESC, cand_id ASC) <= {TOPK}
"""

QUERIES["ann_ivf_pq_rerank"] = q_ann_ivf_pq_rerank
ORACLES["ann_ivf_pq_rerank"] = ORACLE_ANN_IVF_PQ_RERANK


# --- residual PQ: IVFADC with residual quantization (round 10) -------------
#
# The TRUE IVFADC form (Jegou et al. 2011 §III.C; what FAISS's
# IndexIVFPQ actually trains): the PQ codebook quantizes each
# vector's RESIDUAL against its assigned coarse centroid, not the raw
# vector. The textbook rationale: residuals concentrate near the
# origin when the coarse quantizer absorbs between-list variance, so
# the same codebook budget covers smaller displacements.
#
# MEASURED RESULT ON THIS CORPUS (PLANS.md round-10): residual
# quantization HURTS here — recall@3 0.40 vs 0.60 non-residual at
# sf0.1 (0.73 vs 0.87 at sf0.01). Attribution: the synthetic
# embeddings are near-isotropic, so a vector's nearest coarse
# centroid is nearly orthogonal to it and explains ~no variance —
# E||x - c||^2 ~ ||x||^2 + ||c||^2, i.e. residuals are LARGER than
# the raw vectors and the same K-centroid budget must cover a wider
# cloud. The gated eval pair (ivfpq vs ivfrpq) turns the deployment
# folklore ("always train on residuals") into a measurement: residual
# PQ pays exactly when the coarse quantizer explains variance
# (clustered real embeddings), and the right pipeline A/Bs the two on
# its own data rather than assuming. Search-side, the ADC lookup
# table becomes per-(query, PROBED CENTROID): the query's residual
# differs per probed list — n_q * NPROBE * PQ_M * PQ_K rows, still
# broadcastable at any corpus size.


def _vq_micro(spark, sf_dir) -> DataFrame:
    """(vec_id, gdim, q): flat integer-micro components (the shared
    quantization step of `_pq_comp` and the residual forms)."""
    e = _emb(spark, sf_dir)
    dim_val = F.posexplode(
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
        )
    )
    return e.select("vec_id", dim_val.alias("gdim", "q"))


def _rpq_comp(spark, sf_dir) -> DataFrame:
    """(vec_id, m, dim, q): IVF-RESIDUAL components — the vector's
    integer-micro components minus its assigned coarse centroid's.
    Exact int64 subtraction in the quantized space (both sides
    micro-quantized FIRST), so the whole residual pipeline stays
    under the hash gate. Plan: one flat component explode, the
    id-sized assignment map join, and a broadcast join against the
    centroid components (the centroid set is N_CENTROIDS rows — fixed at any corpus size)."""
    vq = _vq_micro(spark, sf_dir)
    cent_q = vq.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "gdim", F.col("q").alias("cq")
    )
    amap = _ivf_assigned(spark, sf_dir).select("vec_id", "centroid_id")
    return (
        vq.join(amap, "vec_id")
        .join(F.broadcast(cent_q), ["centroid_id", "gdim"])
        .select(
            "vec_id",
            (F.col("gdim") / PQ_SUBDIM).cast("int").alias("m"),
            (F.col("gdim") % PQ_SUBDIM).cast("int").alias("dim"),
            (F.col("q") - F.col("cq")).alias("q"),
        )
    )


def _rpq_train(spark: SparkSession, sf_dir: str):
    """Residual-PQ training run — the same memoized-artifact stance
    as `_pq_train` (one Lloyd program, different component relation)."""
    from ..session import input_key, plan_memo

    return plan_memo(
        spark,
        ("rpq_train", *input_key(_emb_path(sf_dir))),
        lambda: _lloyd_train(spark, _rpq_comp(spark, sf_dir)),
    )


def _cdf_of(spark: SparkSession, cents: dict) -> DataFrame:
    """The broadcastable codebook relation (m, cid, dim, c) from the
    driver-hosted centroid dict — ONE construction site (six copies
    of this 4-liner had drifted into the file; a schema or ordering
    change must happen exactly here or Spark/oracle parity silently
    diverges)."""
    return spark.createDataFrame(
        [(m, c, d, v) for (m, c, d), v in sorted(cents.items())],
        "m int, cid int, dim int, c long",
    )


def _codes_from(comp: DataFrame, cents: dict) -> DataFrame:
    """(vec_id, m, cid): nearest-final-centroid code per subvector —
    shared by the raw and residual pipelines (codebook relation via
    ``_cdf_of``)."""
    spark = comp.sparkSession
    cdf = _cdf_of(spark, cents)
    diff = F.col("q") - F.col("c")
    return (
        comp.join(F.broadcast(cdf), ["m", "dim"])
        .groupBy("vec_id", "m", "cid")
        .agg(F.sum(diff * diff).cast("long").alias("d2"))
        .groupBy("vec_id", "m")
        .agg(F.min_by("cid", F.struct("d2", "cid")).alias("cid"))
    )


def _ivf_rpq_scored(spark, sf_dir):
    """IVFADC scoring with residual codes: probes and candidate lists
    as in `_ivf_pq_scored`; the ADC table is per-(query, probed
    centroid) because the query residual is taken against EACH probed
    list's centroid — the residual trick's only structural cost."""
    assigned = _ivf_assigned(spark, sf_dir)
    e = _emb(spark, sf_dir)
    cent = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cent_emb"),
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.desc("cm"), F.asc("centroid_id")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id", "centroid_id",
            cos_micro("q_emb", "cent_emb").alias("cm"),
        )
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= NPROBE)
        .select("query_id", "centroid_id")
    )
    cands = (
        probes.join(
            assigned.select(F.col("vec_id").alias("cand_id"), "centroid_id"),
            "centroid_id",
        )
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "centroid_id", "cand_id")
    )
    comp, cents = _rpq_train(spark, sf_dir)
    cdf = _cdf_of(spark, cents)
    codes = _rpq_codes_assigned(spark, sf_dir)
    # query residual components PER PROBED CENTROID
    vq = _vq_micro(spark, sf_dir)
    cent_q = vq.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "gdim", F.col("q").alias("cq")
    )
    qr = (
        probes.join(
            vq.withColumnRenamed("vec_id", "query_id"), "query_id"
        )
        .join(F.broadcast(cent_q), ["centroid_id", "gdim"])
        .select(
            "query_id", "centroid_id",
            (F.col("gdim") / PQ_SUBDIM).cast("int").alias("m"),
            (F.col("gdim") % PQ_SUBDIM).cast("int").alias("dim"),
            (F.col("q") - F.col("cq")).alias("qq"),
        )
    )
    qtab = (
        qr.join(F.broadcast(cdf), ["m", "dim"])
        .groupBy("query_id", "centroid_id", "m", "cid")
        .agg(
            F.sum((F.col("qq") - F.col("c")) * (F.col("qq") - F.col("c")))
            .cast("long")
            .alias("qd2")
        )
    )
    return (
        cands.join(codes.withColumnRenamed("vec_id", "cand_id"), "cand_id")
        .join(F.broadcast(qtab), ["query_id", "centroid_id", "m", "cid"])
        .groupBy("query_id", "cand_id")
        .agg(F.sum("qd2").cast("long").alias("adc"))
    )


def q_ann_ivf_rpq(spark, sf_dir):
    """Top-K cut of the residual-IVFADC scoring (docstring above)."""
    scored = _ivf_rpq_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOPK)
        .select("query_id", "cand_id", "adc", "rnk")
    )


def q_ann_recall_eval_ivfrpq(spark, sf_dir):
    """Measured retrieval quality of the RESIDUAL IVFADC index vs
    exact cosine truth — the direct sibling of
    ``ann_recall_eval_ivfpq`` so the residual-vs-raw decision is a
    driver-verifiable number, not folklore. Measured (PLANS.md
    round-10): recall@3 0.40 residual vs 0.60 non-residual at sf0.1
    — the HONEST negative on near-isotropic embeddings, where
    residuals are larger than raw vectors (see the section header);
    same gated metric layer as the other recall evals."""
    truth = _truth_topk(spark, sf_dir)
    approx = q_ann_ivf_rpq(spark, sf_dir).select(
        "query_id", "cand_id", F.col("rnk").alias("a_rank")
    )
    return _recall_metrics(truth, approx)


def _rpq_comp_ctes() -> list[str]:
    """The residual component CTE chain (ends in `comp`) plugged into
    `_pq_oracle_ctes` — coarse assignment restated exactly as the
    ann_ivf oracle does, residual = micro(q) - micro(centroid)."""
    return [f"""vq AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS gdim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings
)""", f"""rcent AS (
  SELECT vec_id AS centroid_id, gdim, q AS cq FROM vq
  WHERE vec_id < {N_CENTROIDS}
)""", f"""ivf_cent AS (
  SELECT vec_id AS centroid_id, embedding AS cent_emb
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
)""", f"""ivf_scored AS (
  SELECT e.vec_id, c.centroid_id,
         {sql_cos_micro('e.embedding', 'c.cent_emb')} AS cm
  FROM embeddings e CROSS JOIN ivf_cent c
)""", """rassigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cm DESC, centroid_id ASC) AS rn
    FROM ivf_scored
  ) x WHERE rn = 1
)""", f"""comp AS (
  SELECT v.vec_id,
         CAST(v.gdim // {PQ_SUBDIM} AS INT) AS m,
         CAST(v.gdim % {PQ_SUBDIM} AS INT) AS dim,
         v.q - rc.cq AS q
  FROM vq v
  JOIN rassigned a ON v.vec_id = a.vec_id
  JOIN rcent rc ON a.centroid_id = rc.centroid_id AND v.gdim = rc.gdim
)"""]


def _ivf_rpq_oracle(k: int) -> str:
    return _pq_oracle_ctes(_rpq_comp_ctes()) + f""",
probes AS (
  SELECT vec_id AS query_id, centroid_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cm DESC, centroid_id ASC) AS pr
    FROM ivf_scored WHERE vec_id < {N_QUERIES}
  ) y WHERE pr <= {NPROBE}
),
cands AS (
  SELECT p.query_id, p.centroid_id, a.vec_id AS cand_id
  FROM probes p JOIN rassigned a ON p.centroid_id = a.centroid_id
  WHERE p.query_id <> a.vec_id
),
d_final AS (
  SELECT vec_id, comp.m, cid, CAST(sum((q - c) * (q - c)) AS BIGINT) AS d2
  FROM comp JOIN c_{PQ_ITERS} ON comp.m = c_{PQ_ITERS}.m AND comp.dim = c_{PQ_ITERS}.dim
  GROUP BY vec_id, comp.m, cid
),
codes AS (
  SELECT vec_id, m, cid FROM d_final
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) = 1
),
qrcomp AS (
  SELECT p.query_id, p.centroid_id,
         CAST(v.gdim // {PQ_SUBDIM} AS INT) AS m,
         CAST(v.gdim % {PQ_SUBDIM} AS INT) AS dim,
         v.q - rc.cq AS qq
  FROM probes p
  JOIN vq v ON v.vec_id = p.query_id
  JOIN rcent rc ON rc.centroid_id = p.centroid_id AND rc.gdim = v.gdim
),
qtab AS (
  SELECT qr.query_id, qr.centroid_id, qr.m, cid,
         CAST(sum((qq - c) * (qq - c)) AS BIGINT) AS qd2
  FROM qrcomp qr
  JOIN c_{PQ_ITERS} ON qr.m = c_{PQ_ITERS}.m AND qr.dim = c_{PQ_ITERS}.dim
  GROUP BY qr.query_id, qr.centroid_id, qr.m, cid
),
adc_scored AS (
  SELECT cn.query_id, cn.cand_id, CAST(sum(qd2) AS BIGINT) AS adc
  FROM cands cn
  JOIN codes co ON cn.cand_id = co.vec_id
  JOIN qtab qt ON qt.query_id = cn.query_id
             AND qt.centroid_id = cn.centroid_id
             AND qt.m = co.m AND qt.cid = co.cid
  GROUP BY cn.query_id, cn.cand_id
)
SELECT query_id, cand_id, adc,
       CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY adc, cand_id) AS BIGINT) AS rnk
FROM adc_scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id)
        <= {k}
"""


ORACLE_ANN_IVF_RPQ = _ivf_rpq_oracle(TOPK)

ORACLE_ANN_RECALL_IVFRPQ = f"""
WITH truth AS (
  SELECT query_id, cand_id, rank AS t_rank
  FROM ({ORACLE_ANN_TOPK}) x WHERE rank <= {RECALL_K}
),
approx AS (
  SELECT query_id, cand_id, rnk AS a_rank
  FROM ({ORACLE_ANN_IVF_RPQ}) y
),
qids AS (SELECT DISTINCT query_id FROM truth),
hits AS (
  SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM truth t JOIN approx a
    ON t.query_id = a.query_id AND t.cand_id = a.cand_id
  GROUP BY t.query_id
),
rr AS (
  SELECT t.query_id, CAST(1000000 // a.a_rank AS BIGINT) AS rr_micro
  FROM truth t JOIN approx a
    ON t.query_id = a.query_id AND t.cand_id = a.cand_id
  WHERE t.t_rank = 1
)
SELECT q.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 1000000 // {RECALL_K} AS BIGINT)
         AS recall_micro,
       CAST(coalesce(rr.rr_micro, 0) AS BIGINT) AS rr_micro
FROM qids q
LEFT JOIN hits h ON q.query_id = h.query_id
LEFT JOIN rr ON q.query_id = rr.query_id
"""

QUERIES["ann_ivf_rpq"] = q_ann_ivf_rpq
QUERIES["ann_recall_eval_ivfrpq"] = q_ann_recall_eval_ivfrpq
ORACLES["ann_ivf_rpq"] = ORACLE_ANN_IVF_RPQ
ORACLES["ann_recall_eval_ivfrpq"] = ORACLE_ANN_RECALL_IVFRPQ
