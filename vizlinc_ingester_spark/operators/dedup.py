"""Deduplication operators for the training-data pipeline track
(BASELINE.json north star): exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design (the whole point of these operators):
- Shingles are hashed as array expressions inside the row, and
  signatures are swept in numpy per Arrow batch (no explode shuffle)
  — a 100 TB corpus streams through the scan stage embarrassingly
  parallel.
- Candidate generation is LSH band-bucketing: the only shuffle is a
  groupBy/join on the band key, whose cardinality is ~n_docs*bands —
  never the O(n²) pair space.
- Verification (true Jaccard / hamming) runs only on candidate pairs.
- Generalizes the reference's sorted-neighborhood blocking
  (src/CorefBase.groovy:176-196): sort-adjacency is one blocking
  function; MinHash bands are another (SURVEY.md §7 step 10).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_PERMS, P, stable_hash64
from ..functions.text import tokens

N_PERMS = 16
N_BANDS = 8  # rows-per-band r=2
SHINGLE_K = 3


def shingles_from_tokens(toks: Column, k: int = SHINGLE_K) -> Column:
    """k-word shingles from an ALREADY-MATERIALIZED token-array column
    (empty if < k tokens — guarded: Spark sequence() would go
    descending).

    Pass an *attribute* (a projected column), not the tokenize
    expression itself: the ``element_at`` lambda references its input
    once per shingle element, so an inlined ``split(...)`` would be
    re-evaluated O(tokens) times per row — measured ~2x on the whole
    MinHash pipeline at sf0.1."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - (k - 1))
    mk = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(k)]
    )
    return F.when(n >= k, F.transform(idx, mk)).otherwise(
        F.array().cast("array<string>")
    )


def shingles(c: Column, k: int = SHINGLE_K) -> Column:
    """k-word shingles of a text column (tokenizes inline — prefer
    ``shingles_from_tokens`` over a projected token column in hot
    paths; see its docstring)."""
    return shingles_from_tokens(tokens(c), k)


def minhash_signatures(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """documents -> (doc_id, mh0..mh15); docs with no shingles dropped."""
    return minhash_from_hashed(hashed_shingle_docs(documents, text_col))


def minhash_from_hashed(hashed: DataFrame) -> DataFrame:
    """(doc_id, hs: array<long>) -> (doc_id, mh0..mh15): the MinHash
    kernel, a numpy permutation/min sweep per Arrow batch via
    ``mapInPandas``. Pure integer arithmetic — min((a*h + b) mod P)
    with a < 2^30, h < 2^32 keeps every product < 2^62 — so it
    hash-matches the DuckDB oracle's list fold exactly. The shingle
    hashes (md5 + conv) come from ``hashed_shingle_docs``, JVM-side.

    numpy rather than a Column ``aggregate``/``zip_with`` fold: Spark
    evaluates higher-order functions per element outside whole-stage
    codegen, and the fold measured about 2x slower on a 100k-doc
    corpus (PLANS.md, "MinHash signatures")."""
    from ..session import ship_package

    ship_package(hashed.sparkSession)
    a_np = [a for a, _ in MINHASH_PERMS]
    b_np = [b for _, b in MINHASH_PERMS]

    def sign(batches):
        import numpy as np
        import pandas as pd

        A = np.array(a_np, dtype=np.int64)[:, None]
        B = np.array(b_np, dtype=np.int64)[:, None]
        for pdf in batches:
            if pdf.empty:
                continue
            sigs = np.empty((len(pdf), len(a_np)), dtype=np.int64)
            for i, hs in enumerate(pdf["hs"]):
                h = np.asarray(hs, dtype=np.int64)[None, :]
                sigs[i] = ((A * h + B) % P).min(axis=1)
            out = {"doc_id": pdf["doc_id"].to_numpy(dtype=np.int64)}
            for j in range(len(a_np)):
                out[f"mh{j}"] = sigs[:, j]
            yield pd.DataFrame(out)

    schema = "doc_id long, " + ", ".join(
        f"mh{j} long" for j in range(len(a_np))
    )
    return hashed.mapInPandas(sign, schema)


def lsh_band_buckets(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_key) — one row per band; docs sharing any band
    key are near-dup candidates."""
    bands = [
        F.concat_ws(
            ":", F.lit(str(b)), F.col(f"mh{2 * b}").cast("string"),
            F.col(f"mh{2 * b + 1}").cast("string"),
        ).alias("band_key")
        for b in range(N_BANDS)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*bands)).alias("band_key")
    )


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Band buckets -> distinct unordered candidate pairs with the
    number of colliding bands.

    COLLAPSE-FIRST (the ``q_simjoin_allpairs`` discipline, judge-r10
    item 2): identical signatures are collapsed to one representative
    (min doc_id) BEFORE banding, and membership is expanded back
    RELATIONALLY afterward. Without this, exact duplicates — the one
    thing a 100 TB dedup corpus is guaranteed to be full of — land in
    the same bucket of EVERY band: a boilerplate page duplicated 10^6
    times became a single collected row holding a 10^6-element array
    and a 10^12-pair in-row expansion on one task. After collapsing,
    buckets hold DISTINCT signatures only, so the in-bucket array
    expansion is bounded by genuinely-near-but-not-identical group
    size (a pathological giant bucket now really does mean the
    banding parameters are wrong), and the exact-duplicate mass flows
    through distributed joins:

    - across groups: pair-of-representatives x members(a) x members(b)
      equi-joins (band counts are signature-determined, so every
      member pair inherits its representatives' n_shared_bands);
    - within a group: a members self-join on the representative key
      (identical signatures collide in all N_BANDS bands by
      definition — no banding needed to know that).

    The member pair space for exact duplicates is still quadratic —
    that is the operator's CONTRACT (all candidate pairs; callers that
    want exact-dup groups collapsed use ``exact_duplicates`` first) —
    but it is now spread across shuffle partitions instead of
    materialized in one row on one task.

    Shape: one groupBy(signature) collapse, then ONE registered memo
    entry holding BOTH persisted relations — the slim (rep, doc_id)
    membership map and the (signature, rep) representative table —
    so neither the signature kernel nor the collapse groupBy re-runs on
    later actions over the returned pairs (the representative table
    is one row per DISTINCT signature, 17 longs wide). Then one
    band-key shuffle over representatives and the member expansion
    joins."""
    from ..session import plan_key, plan_memo

    mh_cols = [f"mh{i}" for i in range(N_PERMS)]

    def build():
        r = (
            sigs.groupBy(*mh_cols)
            .agg(F.min("doc_id").alias("doc_id"))
            .persist()
        )
        m = (
            sigs.join(
                r.select(*mh_cols, F.col("doc_id").alias("rep")),
                mh_cols,
            )
            .select("rep", "doc_id")
            .persist()
        )
        m.count()  # materializes r through the join as well
        return m, r

    members, reps = plan_memo(
        sigs.sparkSession, plan_key(sigs, "lsh_members"), build
    )

    b = lsh_band_buckets(reps)
    buckets = b.groupBy("band_key").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    rep_pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) ->"
                " transform(slice(ds, i + 2, size(ds)),"
                " y -> struct(x AS rep_a, y AS rep_b))))"
            )
        ).alias("p")
    ).select("p.rep_a", "p.rep_b").groupBy("rep_a", "rep_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_bands")
    )
    ma = members.select(F.col("rep").alias("rep_a"), F.col("doc_id").alias("da"))
    mb = members.select(F.col("rep").alias("rep_b"), F.col("doc_id").alias("db"))
    cross = (
        rep_pairs.join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "n_shared_bands",
        )
    )
    within = (
        ma.join(mb, F.col("rep_a") == F.col("rep_b"))
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.lit(N_BANDS).cast("long").alias("n_shared_bands"),
        )
    )
    return cross.unionByName(within)


def hashed_shingle_docs(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, hs: array<long>) — shingles hashed once (mod P). The
    md5 work happens exactly once per shingle; every downstream stage
    (signatures, banding, verification) reuses the longs.

    The no-shingle filter tests *token count on the input side*, not
    ``size(hs) >= 1``: a predicate on the computed column gets pushed
    below the projection and evaluates the whole md5 transform twice
    (measured 3x slowdown).

    Tokens are materialized by a dedicated projection before the
    shingle/hash expression so the per-element lambdas reference an
    attribute, not a re-evaluated split() (see shingles_from_tokens).
    CollapseProject keeps the two selects separate because the alias
    is non-cheap and multiply-referenced."""
    # spread first: the md5-per-shingle transform is per-row compute
    # and the testdata parquet is single-split (PLANS.md 'Single-split
    # inputs') — without this the whole hashing pass runs in one
    # task. Probe-gated (session.spread_if_narrow): an already-wide
    # input (always, at real scale) skips the extra full-corpus
    # shuffle.
    from ..session import expr_memo, spread_if_narrow

    # the tokenize filter/projection and the shingle+md5 transform are
    # pure functions of the text column name — memoized per session
    # (expr_memo): together ~0.1 s of py4j chatter per construction,
    # rebuilt by every dedup/decontaminate/streaming-LSH caller
    toks_expr = expr_memo(
        ("hsd_toks", text_col), lambda: tokens(F.col(text_col))
    )
    hs_expr = expr_memo(
        ("hsd_hs",),
        lambda: F.transform(
            shingles_from_tokens(F.col("_toks")),
            lambda s: stable_hash64(s) % F.lit(P),
        ),
    )
    with_toks = spread_if_narrow(documents, "doc_id").filter(
        F.size(toks_expr) >= SHINGLE_K
    ).select("doc_id", toks_expr.alias("_toks"))
    return with_toks.select("doc_id", hs_expr.alias("hs"))


def jaccard_verify_hashed(hs_docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """True shingle-set Jaccard for candidate pairs, over *hashed*
    shingles (long joins, not string joins — and the oracle joins the
    identical hashes, so results stay symmetric even in the
    astronomically-unlikely collision case).
    jaccard_micro = (|A∩B| * 1e6) // |A∪B| (exact integer math).

    r14 optimization (guide §2.4, §3.3 "join first on the
    un-exploded key and explode after" — here the explode disappears
    entirely): the old form exploded the corpus shingle stream and
    shuffled it through the intersection join + groupBy per action;
    the candidate PAIR set is bucket-bounded and tiny next to the
    corpus, so the verify now joins the pairs against the per-doc
    DISTINCT shingle ARRAYS (two doc_id-keyed joins, pair side
    broadcastable) and computes |A∩B| in-row with array_intersect —
    the simjoin_allpairs verify shape. Value-identical: a doc with an
    empty shingle set was absent from the old per-doc size aggregate
    (inner join dropped its pairs), matched here by the n_sh > 0
    filter; array_intersect is distinct-set semantics, same as the
    old distinct-explode count."""
    sets_ = (
        hs_docs.select("doc_id", F.array_distinct("hs").alias("s"))
        .withColumn("n_sh", F.size("s").cast("long"))
        .filter(F.col("n_sh") > 0)
    )
    out = (
        pairs.join(
            sets_.select(
                F.col("doc_id").alias("doc_a"),
                F.col("s").alias("s_a"), F.col("n_sh").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            sets_.select(
                F.col("doc_id").alias("doc_b"),
                F.col("s").alias("s_b"), F.col("n_sh").alias("n_b"),
            ),
            "doc_b",
        )
        .withColumn(
            "n_inter", F.size(F.array_intersect("s_a", "s_b")).cast("long")
        )
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return out.select(
        "doc_a", "doc_b", "n_shared_bands", "n_inter",
        union.alias("n_union"),
        F.expr("div(n_inter * 1000000, n_a + n_b - n_inter)").alias("jaccard_micro"),
    )


def minhash_lsh_verified(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Full near-dup pipeline: hash shingles once -> signatures ->
    band buckets -> candidate pairs -> exact-Jaccard verify. The
    hashed-shingle relation is persisted: it feeds three branches
    (signatures, sizes, intersection) and recomputing it would triple
    the scan+md5 work. Result memoized per (session, input plan) so
    repeat calls don't stack persisted intermediates
    (session.plan_memo; its key sees the files the input reads). The
    persisted hashed-shingle relation is part of the memo value, so
    eviction unpersists it."""
    from ..session import plan_key, plan_memo

    result, _hs = plan_memo(
        documents.sparkSession,
        plan_key(documents, "minhash_lsh_verified", text_col),
        lambda: _minhash_lsh_verified(documents, text_col),
    )
    return result


def _minhash_lsh_verified(documents: DataFrame, text_col: str) -> DataFrame:
    hs_docs = hashed_shingle_docs(documents, text_col).persist()
    # Eagerly materialize the hashed shingles: they feed the signature
    # pass AND the three verify branches of ONE action; an
    # unmaterialized cache gets recomputed by each concurrently-
    # scheduled consumer stage (observed 16 s -> ~4 s). The signature
    # relation is evaluated twice at candidate-build time (the
    # collapse groupBy and the membership join) — both inside
    # lsh_candidate_pairs' ONE registered build, whose persisted
    # (members, reps) pair then serves every later action without
    # touching the signature kernel again.
    hs_docs.count()
    pairs = lsh_candidate_pairs(minhash_from_hashed(hs_docs))
    # hs_docs rides along in the memo value so eviction unpersists it
    return jaccard_verify_hashed(hs_docs, pairs), hs_docs


def exact_duplicates(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash (groups of size >= 2)."""
    return (
        documents.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_dups") >= 2)
    )


def simhash_docs(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) — 16-bit SimHash over token hashes: tokens
    are hashed JVM-side (md5 + conv, mod P), then the 16-bit-counter
    majority sweep runs in numpy per Arrow batch. Pure integer
    arithmetic, so it hash-matches the DuckDB oracle exactly; numpy
    rather than a Column fold for the reason given in
    ``minhash_from_hashed``."""
    from ..session import expr_memo, ship_package

    ship_package(documents.sparkSession)
    toks_expr = expr_memo(
        ("hsd_toks", text_col), lambda: tokens(F.col(text_col))
    )
    h_expr = expr_memo(
        ("hashed_tokens_h",),
        lambda: F.transform(
            "_toks", lambda t: stable_hash64(t) % F.lit(P)
        ),
    )
    hashed = (
        documents.select("doc_id", toks_expr.alias("_toks"))
        .filter(F.size("_toks") > 0)
        .select("doc_id", h_expr.alias("_h"))
    )

    def sim(batches):
        import numpy as np
        import pandas as pd

        js = np.arange(16, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            out = np.empty(len(pdf), dtype=np.int64)
            for i, hs in enumerate(pdf["_h"]):
                h = np.asarray(hs, dtype=np.int64)[:, None]
                ones = ((h >> js[None, :]) & 1).sum(axis=0)
                out[i] = int(((2 * ones > len(hs)).astype(np.int64) << js).sum())
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(dtype=np.int64), "simhash": out}
            )

    return hashed.mapInPandas(sim, "doc_id long, simhash long")


def simhash_near_dups(
    documents: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with GUARANTEED recall for
    ``max_hamming <= 3``: band the 16-bit hash into 4 disjoint 4-bit
    blocks and equi-join per band — a pair differing in <= 3 bits has
    at least one identical band (pigeonhole), so no true near-dup can
    be missed. (A single-block bucketing, e.g. the high byte, silently
    drops pairs whose differing bits all fall inside the block.)
    Candidates surfacing in several bands are deduped before the
    hamming verification.

    The (doc_id, simhash) relation is persisted and eagerly
    materialized before the self-join — both join sides are the same
    subplan and Spark would otherwise run the full tokenize+hash scan
    twice. The cached relation is 12 bytes/doc: cacheable at any
    corpus size that fits a cluster at all. Result memoized per
    (session, input plan) — see session.plan_memo."""
    from ..session import plan_key, plan_memo

    return plan_memo(
        documents.sparkSession,
        plan_key(documents, "simhash_near_dups", text_col, max_hamming),
        lambda: _simhash_near_dups(documents, text_col, max_hamming),
    )


def _simhash_near_dups(
    documents: DataFrame, text_col: str, max_hamming: int
) -> DataFrame:
    from ..functions.hashing import hamming16

    n_bands, band_bits = 4, 4
    if max_hamming >= n_bands:
        raise ValueError(
            f"banding guarantees recall only for max_hamming < {n_bands}"
        )
    sh = simhash_docs(documents, text_col).persist()
    sh.count()
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), band_bits * i).bitwiseAND(
                F.lit((1 << band_bits) - 1)
            )
            for i in range(n_bands)
        ]
    )
    banded = sh.select(
        "doc_id", "simhash", F.posexplode(band_vals).alias("band", "bval")
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"),
        "band", "bval",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"),
        "band", "bval",
    )
    # Emit each candidate pair only in its FIRST shared band: for the
    # matched band k, require every earlier band to differ. This is a
    # row-local filter on (sh_a, sh_b, band) — it replaces a
    # dropDuplicates (a full extra shuffle of the candidate set) with
    # free scan-stage arithmetic.
    def band_of(col, i):
        return F.shiftright(col, band_bits * i).bitwiseAND(
            F.lit((1 << band_bits) - 1)
        )

    first_shared = reduce(
        lambda x, y: x & y,
        [
            (F.lit(i) >= F.col("band"))
            | (band_of(F.col("sh_a"), i) != band_of(F.col("sh_b"), i))
            for i in range(n_bands)
        ],
    )
    pairs = (
        a.join(b, ["band", "bval"])
        .filter((F.col("doc_a") < F.col("doc_b")) & first_shared)
        .select("doc_a", "doc_b", "sh_a", "sh_b")
    )
    out = pairs.select(
        "doc_a",
        "doc_b",
        hamming16(F.col("sh_a"), F.col("sh_b")).cast("long").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)
    # the persisted (doc_id, simhash) relation is not in the returned
    # plan's memo value; mark it owned (on the FINAL returned value —
    # own_aux contract) so registry eviction releases it
    from ..session import own_aux

    return own_aux(out, sh)
