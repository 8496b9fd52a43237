"""Training-data curation operators (LLM-pipeline track, beyond the
reference's surface): context-window chunking, benchmark
decontamination, PII redaction, and repetition scoring — the four
standard passes between "crawled corpus" and "training mix" that the
dedup/quality/language stages (suite/dedup.py, functions/text.py)
don't cover.

All pure Column logic (scan-stage, whole-stage codegen; the only
shuffles are the keyed aggregations), each under a DuckDB oracle.

The DataFrame->DataFrame cores live in ``operators/curation.py`` (the
same code ``plans/ingest.py`` composes into its curate stage); these
queries are thin oracle-gated wrappers over them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import read_table as _read_table
from ..operators.curation import (
    CHUNK_STRIDE,
    CHUNK_TOKENS,
    DECON_N,
    PACK_BUDGET,
    REP_N,
    chunk_documents,
    decontaminate_scores,
    doc_ngrams,
    pack_chunks,
    redact_pii,
)

BENCH_MOD = 97  # doc_id % 97 == 0 -> the held-out "benchmark" set

_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"
_PHONE_RE = r"\+?[0-9][0-9][0-9]-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_table(spark, os.path.join(sf_dir, "documents.parquet"))


def q_doc_chunking(spark, sf_dir):
    """Split every document into CHUNK_TOKENS-token windows with
    CHUNK_STRIDE stride (overlapping context windows — the tokenize &
    pack step of a pretraining pipeline). One scan, no shuffle at
    all: tokens, window starts (``sequence``) and slices are array
    expressions; ``posexplode`` multiplies rows in the scan stage. At
    100 TB this is the shape you want — chunking is embarrassingly
    parallel and never leaves the input partitioning."""
    return chunk_documents(_docs(spark, sf_dir))


ORACLE_DOC_CHUNKING = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
  FROM documents WHERE len(text) > 0
),
idx AS (SELECT unnest(range((SELECT coalesce(max(len(string_split(text, ' '))), 0) + 1 FROM documents))) AS i)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       array_to_string(t[i*{CHUNK_STRIDE}+1 : i*{CHUNK_STRIDE}+{CHUNK_TOKENS}], ' ')
         AS chunk_text,
       CAST(least({CHUNK_TOKENS}, n - i*{CHUNK_STRIDE}) AS BIGINT)
         AS n_chunk_tokens
FROM toks JOIN idx ON i * {CHUNK_STRIDE} < n
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    {DECON_N}-gram with the held-out set (doc_id % BENCH_MOD == 0 —
    self-deriving fixture). The held-out grams are DISTINCT'd and
    broadcast (a real eval suite is tiny next to the corpus), so the
    corpus side never shuffles for the join; the per-doc rollup is the
    one keyed aggregation. Output: per contaminated doc, how many of
    its grams are tainted — the score used to drop or quarantine."""
    d = _docs(spark, sf_dir)
    bench_grams = doc_ngrams(d.filter(F.col("doc_id") % BENCH_MOD == 0), DECON_N)
    return decontaminate_scores(
        d.filter(F.col("doc_id") % BENCH_MOD != 0), bench_grams, DECON_N
    ).select("doc_id", "n_tainted_grams")


ORACLE_DECONTAMINATE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= {DECON_N}
),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[i+1 : i+{DECON_N}], ' ') AS gram
  FROM toks JOIN (SELECT unnest(range((SELECT coalesce(max(len(string_split(text, ' '))), 0) + 1 FROM documents))) AS i) idx
    ON i <= len(t) - {DECON_N}
),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % {BENCH_MOD} = 0)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_tainted_grams
FROM grams g JOIN bench b USING (gram)
WHERE g.doc_id % {BENCH_MOD} != 0
GROUP BY g.doc_id
"""


def q_pii_redact(spark, sf_dir):
    """PII scrubbing: find-and-mask emails and phone numbers, with
    per-doc counts. The synthetic corpus carries no PII, so the
    fixture injects deterministic contact lines into a doc_id-keyed
    subset first (same self-deriving trick as dedup_exact's re-crawl)
    — the oracle injects identically and must produce the identical
    redacted text. Pure regexp Column logic: at 100 TB redaction is a
    scan-stage rewrite, no shuffle."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    injected = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"),
                F.col("doc_id").cast("string"), F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"), F.lit(" call 555-01"),
                F.lpad((F.col("doc_id") % 10).cast("string"), 1, "0"),
                F.lit("-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
    )
    with_pii = d.select("doc_id", injected.alias("text"))
    return redact_pii(with_pii).select(
        "doc_id", "n_emails", "n_phones", "text_redacted"
    )


ORACLE_PII_REDACT = f"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com now'
              WHEN doc_id % 7 = 0
              THEN text || ' call 555-01' || CAST(doc_id % 10 AS VARCHAR)
                   || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS text_redacted
FROM injected
"""


def q_repetition_scores(spark, sf_dir):
    """Gopher-style repetition signal: fraction of duplicated
    {REP_N}-grams per document (high ratio = boilerplate/spam, a
    standard drop rule). Grams are array expressions; the distinct
    count happens inside one per-doc aggregation — corpus never
    shuffles wider than (doc_id)."""
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("t"))
    grams = F.transform(
        F.sequence(F.lit(0), F.size("t") - REP_N),
        lambda i: F.array_join(F.slice(F.col("t"), i + 1, REP_N), " "),
    )
    return (
        d.filter(F.size("t") >= REP_N)
        .select(
            "doc_id",
            F.size(grams).cast("long").alias("n_grams"),
            F.size(F.array_distinct(grams)).cast("long").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_grams",
            (F.col("n_grams") - F.col("n_distinct")).alias("n_dup_grams"),
            ((F.col("n_grams") - F.col("n_distinct")) * 1_000_000
             / F.col("n_grams")).cast("long").alias("dup_micro"),
        )
    )


ORACLE_REPETITION = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= {REP_N}
),
grams AS (
  SELECT doc_id, array_to_string(t[i+1 : i+{REP_N}], ' ') AS gram
  FROM toks JOIN (SELECT unnest(range((SELECT coalesce(max(len(string_split(text, ' '))), 0) + 1 FROM documents))) AS i) idx
    ON i <= len(t) - {REP_N}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(*) - count(DISTINCT gram) AS BIGINT) AS n_dup_grams,
       CAST((count(*) - count(DISTINCT gram)) * 1000000 // count(*) AS BIGINT)
         AS dup_micro
FROM grams GROUP BY doc_id
"""


QUERIES = {
    "doc_chunking": q_doc_chunking,
    "decontaminate_ngrams": q_decontaminate,
    "pii_redact": q_pii_redact,
    "repetition_scores": q_repetition_scores,
}

ORACLES = {
    "doc_chunking": ORACLE_DOC_CHUNKING,
    "decontaminate_ngrams": ORACLE_DECONTAMINATE,
    "pii_redact": ORACLE_PII_REDACT,
    "repetition_scores": ORACLE_REPETITION,
}


def q_sequence_packing(spark, sf_dir):
    """Pack chunked documents into fixed token budgets — the step
    between chunking and batching in a pretraining pipeline. Greedy
    in-order packing is inherently sequential, so the scalable rule
    used here is cumulative-sum binning per language stratum: chunks
    are ordered deterministically inside each lang, and a chunk whose
    running token total crosses a PACK_BUDGET boundary starts the next
    pack. One keyed window (partitioned by lang — bounded state per
    partition), no global sort; at 100 TB the stratum key would be
    (lang, shard) to bound partition width, same plan shape.

    Output: (lang, doc_id, chunk_idx, n_chunk_tokens, pack_id,
    pack_offset) where pack_offset is the chunk's starting token
    position inside its pack."""
    d = _docs(spark, sf_dir)
    return pack_chunks(chunk_documents(d), d.select("doc_id", "lang"))


ORACLE_SEQUENCE_PACKING = f"""
WITH chunks AS ({ORACLE_DOC_CHUNKING.strip()}),
with_lang AS (
  SELECT d.lang, c.doc_id, c.chunk_idx, c.n_chunk_tokens,
         sum(c.n_chunk_tokens) OVER (
           PARTITION BY d.lang ORDER BY c.doc_id, c.chunk_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM chunks c JOIN documents d USING (doc_id)
)
SELECT lang, doc_id, chunk_idx, n_chunk_tokens,
       CAST((cum - n_chunk_tokens) // {PACK_BUDGET} AS BIGINT) AS pack_id,
       CAST((cum - n_chunk_tokens) % {PACK_BUDGET} AS BIGINT) AS pack_offset
FROM with_lang
"""

QUERIES["sequence_packing"] = q_sequence_packing
ORACLES["sequence_packing"] = ORACLE_SEQUENCE_PACKING


QUALITY_MIN_MICRO = 300_000  # keep docs with quality >= 0.30
REP_MAX_MICRO = 500_000  # drop docs with > 50% duplicated 3-grams


def q_curation_funnel(spark, sf_dir):
    """The end-to-end corpus->training-mix funnel, composed from the
    individually-gated stages: language ID + quality score +
    repetition score as scan-stage projections, exact-dup keeper
    selection as one md5 groupBy, then the filter conjunction. Output
    is the per-language survivor profile (docs kept, tokens kept) —
    what a mixing recipe consumes. One corpus scan + one tiny
    aggregation per stage; a hash match here proves the STAGES
    COMPOSE (same row set survives in both engines), which the
    per-stage gates alone don't show.

    Plan note (r5): the heavy per-doc expressions are STAGED as
    projected columns (PLANS.md 'higher-order-function inlining
    trap') — the naive composed form inlined the tokenizer into every
    per-language hit count and the gram array into three references,
    re-splitting each document ~10x (measured 6.5 s -> ~1 s at
    sf0.1); the scan is also spread (probe-gated, session.read_spread)
    since per-row compute dominates and the testdata parquet is
    single-split."""
    from ..functions import text as tx
    from ..session import read_spread

    langs = sorted(tx.STOPWORDS)
    d = read_spread(
        spark, os.path.join(sf_dir, "documents.parquet"), "doc_id"
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_st") - REP_N),
        lambda i: F.array_join(F.slice(F.col("_st"), i + 1, REP_N), " "),
    )
    staged = d.select(
        "doc_id",
        tx.tokens(F.col("text")).alias("_toks"),
        F.split(F.col("text"), " ").alias("_st"),
        F.md5("text").alias("content_md5"),
        tx.whitespace_token_count(F.col("text")).cast("long").alias("n_tokens"),
        tx.alpha_ratio(F.col("text")).alias("_alpha"),
    ).select(
        "doc_id", "content_md5", "n_tokens", "_alpha",
        F.size("_toks").alias("_ntok"),
        F.when(F.size("_st") >= REP_N, grams)
        .otherwise(F.array().cast("array<string>")).alias("_grams"),
        F.aggregate(
            F.col("_toks"), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("_toklen"),
        *[
            tx.stopword_hits(F.col("_toks"), lang).alias(f"_h_{lang}")
            for lang in langs
        ],
    )
    # quality_score_micro, re-expressed over the staged columns with
    # the identical IEEE op sequence (same doubles -> same floor)
    mean_len = F.when(
        F.col("_ntok") > 0,
        F.col("_toklen").cast("double") / F.col("_ntok").cast("double"),
    ).otherwise(F.lit(0.0))
    len_ok = F.when(
        (mean_len >= 3.0) & (mean_len <= 10.0), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        F.col("_ntok") > 0,
        F.col("_h_en").cast("double") / F.col("_ntok").cast("double"),
    ).otherwise(F.lit(0.0))
    quality = F.floor(
        (0.5 * F.col("_alpha") + 0.25 * len_ok
         + 0.25 * F.least(stop_ratio * 5.0, F.lit(1.0))) * 1000000.0
    ).cast("long")
    n_grams = F.size("_grams")
    dup_micro = F.when(n_grams == 0, F.lit(0)).otherwise(
        ((n_grams - F.size(F.array_distinct("_grams"))) * 1_000_000
         / n_grams).cast("long")
    )
    # _nd is a pushdown barrier: PushPredicateThroughProject requires
    # an all-deterministic project list, so the quality/dup filters
    # below evaluate HERE on the staged attributes instead of being
    # substituted through the staging projections and re-inlined into
    # a single-partition scan filter (measured: 6.3 s single-threaded
    # filter without the barrier).
    scored = staged.select(
        "doc_id",
        tx.lang_id_from_hits(
            {lang: F.col(f"_h_{lang}") for lang in langs}
        ).alias("pred_lang"),
        quality.alias("quality_micro"),
        "n_tokens",
        dup_micro.alias("dup_micro"),
        "content_md5",
        F.spark_partition_id().alias("_nd"),
    )
    # r14 optimization (guide §2.4): the keeper used to be a separate
    # groupBy(content_md5) + broadcast join back, so the heavy staged
    # scoring projections (tokenize + per-language stopword hits +
    # gram arrays) evaluated TWICE per action — once under each
    # consumer. min(doc_id) over a content_md5 window computes the
    # same keeper in the SAME pass: one scoring sweep, one slim
    # corpus exchange on the md5 key (7 narrow columns), values
    # identical (per-group min is per-group min).
    from pyspark.sql import Window

    kept = scored.withColumn(
        "keep_doc_id",
        F.min("doc_id").over(Window.partitionBy("content_md5")),
    )
    # One combined filter with a never-true nondeterministic guard
    # (`_nd < 0`; spark_partition_id() is always >= 0): Catalyst does
    # not push or substitute nondeterministic predicates, so the
    # survivor conditions evaluate HERE against the staged
    # quality/dup attributes. Without the guard, ColumnPruning drops
    # _nd and PushPredicateThroughProject re-inlines the full scoring
    # expressions into the scan filter — single-threaded on the
    # single-split testdata parquet (measured 6.3 s vs ~1 s).
    kept = kept.filter(
        (
            (F.col("doc_id") == F.col("keep_doc_id"))
            & (F.col("quality_micro") >= QUALITY_MIN_MICRO)
            & (F.col("dup_micro") <= REP_MAX_MICRO)
        )
        | (F.col("_nd") < 0)
    )
    return (
        kept.groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("doc_id").cast("long").alias("first_doc_id"),
        )
        .orderBy("pred_lang")
    )


def _funnel_oracle() -> str:
    from ..functions import text as tx

    return f"""
WITH scored AS (
  SELECT doc_id, text,
         {tx.sql_lang_id('text')} AS pred_lang,
         {tx.sql_quality_score_micro('text')} AS quality_micro,
         {tx.sql_whitespace_token_count('text')} AS n_tokens,
         CASE WHEN len(string_split(text, ' ')) < {REP_N} THEN 0 ELSE (
           SELECT CAST((count(*) - count(DISTINCT g)) * 1000000 // count(*) AS BIGINT)
           FROM (
             SELECT array_to_string((string_split(text, ' '))[i+1 : i+{REP_N}], ' ') AS g
             FROM (SELECT unnest(range((SELECT coalesce(max(len(string_split(text, ' '))), 0) + 1 FROM documents))) AS i) ix
             WHERE i <= len(string_split(text, ' ')) - {REP_N}
           ) gg
         ) END AS dup_micro,
         md5(text) AS content_md5
  FROM documents
),
keeper AS (
  SELECT content_md5, min(doc_id) AS keep_doc_id FROM scored GROUP BY content_md5
)
SELECT pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc_id
FROM scored JOIN keeper USING (content_md5)
WHERE doc_id = keep_doc_id
  AND quality_micro >= {QUALITY_MIN_MICRO}
  AND dup_micro <= {REP_MAX_MICRO}
GROUP BY pred_lang
ORDER BY pred_lang
"""


QUERIES["curation_funnel"] = q_curation_funnel
ORACLES["curation_funnel"] = _funnel_oracle()


# --- corpus mixing (source-weighted resampling, round 5) ------------------

#: mixing recipe: per-source repetition factor in basis points
#: (5000 = 0.5 epochs = downsample half; 15000 = 1.5 epochs =
#: every doc once + half the docs twice). Derived from a HASH of the
#: source id so the fixture is self-describing on the synthetic
#: corpus and robust to any source-name format (r5 ADVICE: the old
#: positional CAST(substr(source, 4) AS INT) silently NULLed — and
#: dropped rows — in non-ANSI Spark on a malformed source while the
#: DuckDB oracle errored loudly: a latent cross-engine divergence).


def q_corpus_mixing(spark, sf_dir):
    """Training-mix assembly: deterministic source-weighted
    resampling with UP-sampling (epochs > 1), the step that turns a
    curated corpus + mixing recipe into the actual training stream.
    Every doc gets floor(w) full copies plus one extra copy iff
    stable_hash(doc_id) lands under the fractional remainder — so the
    realized mix converges to the recipe per source, is exactly
    reproducible (no RNG), and is computed row-local in the scan
    stage: the only shuffle is the output ordering. At 100 TB this
    composes with the curation funnel as one more scan-stage column.

    Output: one row per (doc_id, copy) via posexplode — the actual
    repeated stream a data loader would read, plus the n_copies
    audit column."""
    from ..functions.hashing import stable_hash64

    d = _docs(spark, sf_dir).select("doc_id", "source")
    w_bps = ((stable_hash64(F.col("source")) % 3 + 1) * 5000).cast("long")
    frac_bps = w_bps % 10000
    extra = (
        stable_hash64(F.col("doc_id").cast("string")) % 10000 < frac_bps
    ).cast("long")
    n_copies = (w_bps / 10000).cast("long") + extra
    with_n = d.select(
        "doc_id", "source", n_copies.alias("n_copies")
    ).filter(F.col("n_copies") > 0)
    return with_n.select(
        "doc_id",
        "source",
        "n_copies",
        F.posexplode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_idx", "_c"),
    ).select("doc_id", "source", "n_copies", F.col("copy_idx").cast("long").alias("copy_idx"))


ORACLE_CORPUS_MIXING = """
WITH weighted AS (
  SELECT doc_id, source,
         CAST(({h_src} % 3 + 1) * 5000 AS BIGINT) AS w_bps,
         {h} AS h
  FROM documents
),
counted AS (
  SELECT doc_id, source,
         w_bps // 10000
           + CASE WHEN h % 10000 < w_bps % 10000 THEN 1 ELSE 0 END
           AS n_copies
  FROM weighted
)
SELECT doc_id, source, CAST(n_copies AS BIGINT) AS n_copies,
       CAST(i AS BIGINT) AS copy_idx
FROM counted
JOIN (SELECT unnest(range(3)) AS i) ix ON i < n_copies
WHERE n_copies > 0
"""


def _mixing_oracle() -> str:
    from ..functions.hashing import sql_stable_hash64

    return ORACLE_CORPUS_MIXING.format(
        h=sql_stable_hash64("CAST(doc_id AS VARCHAR)"),
        h_src=sql_stable_hash64("source"),
    )


QUERIES["corpus_mixing"] = q_corpus_mixing
ORACLES["corpus_mixing"] = _mixing_oracle()


# --- snapshot diff (recurring-crawl delta, round 5) -----------------------

def q_snapshot_diff(spark, sf_dir):
    """CDC-style corpus delta: given the previous snapshot and a new
    crawl, classify every doc_id as added / removed / changed /
    unchanged — the primitive that turns recurring crawls into
    incremental training-data updates (only 'added' + 'changed' flow
    into re-curation; 'removed' triggers takedown propagation).

    Self-deriving fixture: the new snapshot drops doc_id % 11 == 0,
    rewrites text where doc_id % 7 == 0, and adds fresh ids
    (doc_id + 10^12 for doc_id % 13 == 0). Comparison is FULL OUTER
    on doc_id with md5 content compare — one shuffle on the id key,
    no text moves beyond the scan (md5 computed scan-stage). At
    100 TB both sides are id-bucketed parquet, so this becomes a
    co-located merge join with zero extra shuffles."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    old = d.select("doc_id", F.md5("text").alias("old_md5"))
    new_side = (
        d.filter(F.col("doc_id") % 11 != 0)
        .select(
            "doc_id",
            F.md5(
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.concat(F.col("text"), F.lit(" [rev2]")),
                ).otherwise(F.col("text"))
            ).alias("new_md5"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + F.lit(10**12)).alias("doc_id"),
                F.md5(F.concat(F.lit("new:"), F.col("text"))).alias("new_md5"),
            )
        )
    )
    j = old.join(new_side, "doc_id", "full_outer")
    change = (
        F.when(F.col("old_md5").isNull(), "added")
        .when(F.col("new_md5").isNull(), "removed")
        .when(F.col("old_md5") != F.col("new_md5"), "changed")
        .otherwise("unchanged")
    )
    return j.select("doc_id", change.alias("change_type")).filter(
        F.col("change_type") != "unchanged"
    )


ORACLE_SNAPSHOT_DIFF = """
WITH old AS (SELECT doc_id, md5(text) AS old_md5 FROM documents),
new_side AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END)
           AS new_md5
  FROM documents WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT doc_id + 1000000000000 AS doc_id, md5('new:' || text) AS new_md5
  FROM documents WHERE doc_id % 13 = 0
)
SELECT doc_id,
       CASE WHEN old_md5 IS NULL THEN 'added'
            WHEN new_md5 IS NULL THEN 'removed'
            WHEN old_md5 <> new_md5 THEN 'changed'
            ELSE 'unchanged' END AS change_type
FROM old FULL OUTER JOIN new_side USING (doc_id)
WHERE (CASE WHEN old_md5 IS NULL THEN 'added'
            WHEN new_md5 IS NULL THEN 'removed'
            WHEN old_md5 <> new_md5 THEN 'changed'
            ELSE 'unchanged' END) <> 'unchanged'
"""

QUERIES["snapshot_diff"] = q_snapshot_diff
ORACLES["snapshot_diff"] = ORACLE_SNAPSHOT_DIFF


# --- SCD2 snapshot history (round 8) ---------------------------------------

SCD2_T_MAX = 2  # snapshots t = 0, 1, 2


def _scd2_snapshots(d):
    """Three deterministic corpus snapshots as (t, doc_id, content_md5)
    rows — t=1 applies the snapshot_diff fixture rule (drop %11,
    rewrite %7, add %13 under +1e12 ids); t=2 then rewrites %5 and
    drops %19, so the history contains adds, edits, deletes AND a
    delete-then-still-absent tail."""
    # r14 optimization (guide §2.4): the union-of-branches form
    # scanned documents FIVE times per action (snap0, the two s1
    # branches, and both s1 branches again under snap2) — five full
    # text reads + md5 passes. Every snapshot row is a pure function
    # of ONE document row, so all of them are now generated in-row
    # (array of conditional structs, NULL-filtered, exploded): one
    # corpus scan, identical (t, doc_id, content_md5) multiset.
    did = F.col("doc_id")
    new_id = did + F.lit(10**12)
    t1_text = F.when(
        did % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
    ).otherwise(F.col("text"))
    new_text = F.concat(F.lit("new:"), F.col("text"))

    def rev3(txt, idc):
        return F.when(
            idc % 5 == 0, F.concat(txt, F.lit(" [rev3]"))
        ).otherwise(txt)

    def row(cond, t, idc, txt):
        s = F.struct(
            F.lit(t).cast("long").alias("t"),
            idc.cast("long").alias("doc_id"),
            F.md5(txt).alias("content_md5"),
        )
        return s if cond is None else F.when(cond, s)

    rows = F.array(
        row(None, 0, did, F.col("text")),
        row(did % 11 != 0, 1, did, t1_text),
        row(did % 13 == 0, 1, new_id, new_text),
        row((did % 11 != 0) & (did % 19 != 0), 2, did, rev3(t1_text, did)),
        row(
            (did % 13 == 0) & (new_id % 19 != 0),
            2, new_id, rev3(new_text, new_id),
        ),
    )
    return d.select(
        F.explode(F.filter(rows, lambda x: x.isNotNull())).alias("s")
    ).select("s.t", "s.doc_id", "s.content_md5")


def scd2_history(snaps) -> "DataFrame":
    """(t, doc_id, content_md5) snapshot rows -> slowly-changing-
    dimension type-2 history: one row per contiguous presence run
    with constant content, carrying [valid_from, valid_to) in
    snapshot units and an is_current flag — the versioned-corpus
    primitive that turns recurring crawls into point-in-time
    reproducible training sets (train on "the corpus as of t=1"
    by filtering valid_from <= 1 < valid_to).

    Gaps-and-islands per doc: a new version starts where the previous
    snapshot index is not t-1 (the doc was absent — reappearing
    content is a NEW version, not a resurrection) or the content hash
    changed. Plan: ONE shuffle on doc_id; both windows partition by
    doc_id and a doc's partition holds at most one row per snapshot,
    so partitions are bounded by the snapshot count, never the corpus.
    At 100 TB snapshots are id-bucketed parquet and this is a
    co-located window pass."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("t")
    brk = (
        F.lag("t").over(w).isNull()
        | (F.lag("t").over(w) != F.col("t") - 1)
        | (F.lag("content_md5").over(w) != F.col("content_md5"))
    )
    runs = snaps.withColumn(
        "version",
        F.sum(brk.cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        runs.groupBy("doc_id", "version", "content_md5")
        .agg(
            F.min("t").alias("valid_from"),
            (F.max("t") + 1).cast("long").alias("valid_to"),
        )
        .select(
            "doc_id",
            F.col("version").cast("long").alias("version"),
            "content_md5",
            "valid_from",
            "valid_to",
            (F.col("valid_to") == SCD2_T_MAX + 1).cast("long")
            .alias("is_current"),
        )
    )


def q_scd2_history(spark, sf_dir):
    """SCD2 history over three deterministic corpus snapshots — see
    ``scd2_history``. Reference analogue: none (the reference
    re-ingests from scratch); this is the lakehouse-style versioning
    layer the snapshot_diff delta feeds."""
    return scd2_history(_scd2_snapshots(_docs(spark, sf_dir)))


ORACLE_SCD2 = f"""
WITH d AS (SELECT doc_id, text FROM documents),
s1 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text
  FROM d WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT doc_id + 1000000000000 AS doc_id, 'new:' || text AS text
  FROM d WHERE doc_id % 13 = 0
),
snaps AS (
  SELECT CAST(0 AS BIGINT) AS t, doc_id, md5(text) AS content_md5 FROM d
  UNION ALL
  SELECT CAST(1 AS BIGINT) AS t, doc_id, md5(text) AS content_md5 FROM s1
  UNION ALL
  SELECT CAST(2 AS BIGINT) AS t, doc_id,
         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' [rev3]'
                  ELSE text END) AS content_md5
  FROM s1 WHERE doc_id % 19 <> 0
),
runs AS (
  SELECT *,
         CAST(sum(CASE WHEN prev_t IS NULL OR prev_t <> t - 1
                        OR prev_md5 <> content_md5
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY t) AS BIGINT) AS version
  FROM (
    SELECT t, doc_id, content_md5,
           lag(t) OVER (PARTITION BY doc_id ORDER BY t) AS prev_t,
           lag(content_md5) OVER (PARTITION BY doc_id ORDER BY t)
             AS prev_md5
    FROM snaps
  ) x
)
SELECT doc_id, version, content_md5,
       CAST(min(t) AS BIGINT) AS valid_from,
       CAST(max(t) + 1 AS BIGINT) AS valid_to,
       CAST(CASE WHEN max(t) + 1 = {SCD2_T_MAX + 1} THEN 1 ELSE 0 END
            AS BIGINT) AS is_current
FROM runs
GROUP BY doc_id, version, content_md5
"""

QUERIES["scd2_history"] = q_scd2_history
ORACLES["scd2_history"] = ORACLE_SCD2


# --- DSIR-style importance-weighted data selection (round 6) ---------------

DSIR_BUCKETS = 8192  # hashed bigram feature space (the paper's 10k-bucket n-grams)
DSIR_TOPK = 100      # selected corpus size
DSIR_TARGET_LANG = "en"


def q_dsir_selection(spark, sf_dir):
    """Data Selection via Importance Resampling (Xie et al. 2023,
    DSIR), deterministic top-k variant: estimate target and raw
    distributions over HASHED BIGRAM features (stable 60-bit hash %
    DSIR_BUCKETS — the paper's hashed n-gram models), weight every
    raw doc by its summed log importance ratio
    ln(p_target(b)/p_raw(b)) with add-one smoothing, and select the
    top DSIR_TOPK docs. The target here is the `lang='en'` slice —
    the "choose raw web data that looks like my curated target"
    primitive of pretraining-data pipelines.

    Float discipline: per-bucket ratios floored to integer micro-nats
    immediately; doc scores are order-independent int64 sums (the
    lm_doc_scores discipline), so selection is hash-gated.

    Plan at 100 TB: the feature table is bounded by DSIR_BUCKETS
    (8192 rows) — both models fit in one broadcast regardless of
    corpus size; the corpus is scanned once for counts and once for
    scoring. Global top-k is TakeOrdered (per-partition heaps + a
    k-row driver merge), and the rank window runs on the k selected
    rows only — never a corpus-wide single-partition sort."""
    from pyspark.sql import Window

    from ..functions.hashing import stable_hash64

    d = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    toked = d.select("doc_id", "lang", toks.alias("t")).filter(
        F.size("t") >= 2
    )
    bg = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 1),
            lambda i: (
                stable_hash64(
                    F.concat_ws(
                        " ",
                        F.element_at(F.col("t"), i),
                        F.element_at(F.col("t"), i + 1),
                    )
                )
                % DSIR_BUCKETS
            ),
        )
    )
    occ = toked.select("doc_id", "lang", bg.alias("b"))

    def build_weights():
        # the hashed-bigram importance model is a build-once artifact
        # (train once, select many — DSIR's own deployment shape) and
        # is BOUNDED at DSIR_BUCKETS rows at any corpus size, so it
        # gets the same memoized-artifact stance as the bigram LM
        # (q_lm_doc_scores) / PQ codebooks / NER models. r14
        # optimization: without the memo, every invocation re-ran the
        # full tokenize + md5-hash + count pass TWICE (model + score);
        # warm invocations now pay the scoring pass only.
        counts = occ.groupBy("b").agg(
            F.count(F.lit(1)).cast("long").alias("cs"),
            F.sum((F.col("lang") == DSIR_TARGET_LANG).cast("long"))
            .cast("long").alias("ct"),
        )
        scal = counts.agg(
            F.sum("cs").cast("long").alias("ns"),
            F.sum("ct").cast("long").alias("nt"),
        )
        w = counts.crossJoin(F.broadcast(scal)).select(
            "b",
            (
                F.floor(
                    F.log(
                        (F.col("ct") + 1).cast("double")
                        / (F.col("nt") + DSIR_BUCKETS).cast("double")
                    )
                    * 1000000.0
                ).cast("long")
                - F.floor(
                    F.log(
                        (F.col("cs") + 1).cast("double")
                        / (F.col("ns") + DSIR_BUCKETS).cast("double")
                    )
                    * 1000000.0
                ).cast("long")
            ).alias("w_micro"),
        ).persist()
        w.count()
        return w

    from ..session import plan_key, plan_memo

    weights = plan_memo(
        spark, plan_key(occ, "dsir_weights"), build_weights
    )
    scored = (
        occ.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("w_micro").cast("long").alias("score_micro"),
        )
    )
    topk = scored.orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    ).limit(DSIR_TOPK)
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return topk.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("doc_id", "lang", "n_bigrams", "score_micro", "rank")


def _dsir_oracle() -> str:
    from ..functions.hashing import sql_stable_hash64

    bh = sql_stable_hash64("t[i] || ' ' || t[i+1]")
    return f"""
WITH toked AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
idx AS (SELECT unnest(range(1, (SELECT coalesce(max(len(t)), 2) FROM toked))) AS i),
occ AS (
  SELECT doc_id, lang, {bh} % {DSIR_BUCKETS} AS b
  FROM toked JOIN idx ON i <= len(t) - 1
),
counts AS (
  SELECT b, CAST(count(*) AS BIGINT) AS cs,
         CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
              AS BIGINT) AS ct
  FROM occ GROUP BY b
),
scal AS (
  SELECT CAST(sum(cs) AS BIGINT) AS ns, CAST(sum(ct) AS BIGINT) AS nt
  FROM counts
),
weights AS (
  SELECT b,
         CAST(floor(ln(CAST(ct + 1 AS DOUBLE)
                       / CAST(nt + {DSIR_BUCKETS} AS DOUBLE))
                    * 1000000.0) AS BIGINT)
         - CAST(floor(ln(CAST(cs + 1 AS DOUBLE)
                         / CAST(ns + {DSIR_BUCKETS} AS DOUBLE))
                      * 1000000.0) AS BIGINT) AS w_micro
  FROM counts CROSS JOIN scal
),
scored AS (
  SELECT doc_id, any_value(lang) AS lang,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(w_micro) AS BIGINT) AS score_micro
  FROM occ JOIN weights USING (b)
  GROUP BY doc_id
)
SELECT doc_id, lang, n_bigrams, score_micro,
       CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT)
         AS rank
FROM scored
ORDER BY score_micro DESC, doc_id
LIMIT {DSIR_TOPK}
"""


QUERIES["dsir_selection"] = q_dsir_selection
ORACLES["dsir_selection"] = _dsir_oracle()


# --- priority sampling (weighted, mergeable; round 6) ----------------------

PRI_M = 1_000_003   # hash -> uniform granularity
PRI_K = 100         # sample size


def q_priority_sample(spark, sf_dir):
    """Priority sampling (Duffield-Lund-Thorup): each doc gets
    priority w / u with weight w = n_chars and u a deterministic
    uniform from the stable hash; the k highest-priority docs are the
    sample. This is THE weighted-sampling primitive for distributed
    data: top-k by priority is computable per-partition and MERGED
    (TakeOrdered), no global state, and subset-sum estimators built
    on the k+1st priority are unbiased.

    Determinism: u = (hash(doc_id) % M + 1) / (M + 1) — both engines
    build the identical double from exact integers, and the ranking
    divide w/u is a single IEEE operation; ties break on doc_id.
    Output carries pri_micro (floored) for the gate while the ORDER
    uses the full double, with doc_id making the order total."""
    from pyspark.sql import Window

    from ..functions.hashing import stable_hash64

    d = _docs(spark, sf_dir)
    u = (
        (stable_hash64(F.col("doc_id").cast("string")) % PRI_M + 1)
        .cast("double")
        / float(PRI_M + 1)
    )
    pri = F.col("n_chars").cast("double") / u
    scored = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        pri.alias("_pri"),
        F.floor(pri * 1000000.0).cast("long").alias("pri_micro"),
    )
    topk = scored.orderBy(F.desc("_pri"), F.asc("doc_id")).limit(PRI_K)
    w = Window.orderBy(F.desc("_pri"), F.asc("doc_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("doc_id", "weight", "pri_micro", "rank")
    )


def _priority_oracle() -> str:
    from ..functions.hashing import sql_stable_hash64

    h = sql_stable_hash64("CAST(doc_id AS VARCHAR)")
    u = f"(CAST({h} % {PRI_M} + 1 AS DOUBLE) / CAST({PRI_M + 1} AS DOUBLE))"
    pri = f"(CAST(n_chars AS DOUBLE) / {u})"
    return f"""
WITH scored AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         {pri} AS pri,
         CAST(floor({pri} * 1000000.0) AS BIGINT) AS pri_micro
  FROM documents
)
SELECT doc_id, weight, pri_micro,
       CAST(row_number() OVER (ORDER BY pri DESC, doc_id) AS BIGINT) AS rank
FROM scored
ORDER BY pri DESC, doc_id
LIMIT {PRI_K}
"""


QUERIES["priority_sample"] = q_priority_sample
ORACLES["priority_sample"] = _priority_oracle()


# --- training manifest: seeded shuffle + split + shards (round 8) ----------
#
# The last step before a training run: a DETERMINISTIC seeded global
# shuffle order (so data order is reproducible from (corpus, seed)
# alone), a hash train/val split, and fixed-count shard assignment —
# what torchdata/WebDataset-style loaders consume as a manifest.
#
# Spark-first rank without a global window: an md5-ordered global
# row_number would funnel the corpus through ONE window partition
# (the across-doc coref hazard, PLANS.md "Single-partition sorts").
# Instead a two-level rank: bucket = first MANIFEST_BUCKET_HEX hex
# chars of the md5 (16^h uniform buckets), row_number per bucket +
# an in-plan running offset over the bucket counts (a
# single-partition window over at most 16^h rows — bounded by
# construction). h is the scale knob: corpus/16^h rows sort in one
# window task, so h=4 (65536 buckets) keeps a 100B-doc corpus at
# ~1.5M rows per task; the offsets relation stays tiny. Fully lazy,
# no collect, no global sort; the oracle states the same order as
# one naive row_number.
#
# split is hash-bucketed (doc-stable under corpus growth — a doc
# never migrates between train and val when neighbors arrive), NOT
# position-sliced; shard_id derives from position and the in-plan
# total count: shard = (position-1) * N_SHARDS div total + 1 — exact
# integer math, identical both engines (ntile is avoided: its
# remainder distribution is engine-defined).

SHUFFLE_SEED = "s42"
N_SHARDS = 8
VAL_PCT = 5
MANIFEST_BUCKET_HEX = 4  # md5-prefix chars -> 16^4 = 65536 rank buckets


def q_training_manifest(spark, sf_dir):
    return training_manifest_for(
        _docs(spark, sf_dir).select("doc_id", "n_chars")
    )


def training_manifest_for(d: DataFrame) -> DataFrame:
    """Core over any (doc_id, n_chars) relation — the plans/curate.py
    pipeline feeds it the curated survivor set; the gated query feeds
    it the raw corpus."""
    from pyspark.sql import Window

    hs = F.md5(
        F.concat(
            F.lit(SHUFFLE_SEED + ":"), F.col("doc_id").cast("string")
        ).cast("binary")
    )
    base = d.select(
        "doc_id", "n_chars", hs.alias("h"),
        (F.conv(F.substring(hs, 1, 15), 16, 10).cast("long") % 100).alias("hb"),
        F.substring(hs, 1, MANIFEST_BUCKET_HEX).alias("bk"),
    )
    wB = Window.partitionBy("bk").orderBy("h", "doc_id")
    ranked = base.withColumn("rn", F.row_number().over(wB).cast("long"))
    counts = base.groupBy("bk").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # <= 16^MANIFEST_BUCKET_HEX rows: running offset + grand total,
    # both bounded windows
    wOff = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    wTot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        "bk",
        F.coalesce(F.sum("c").over(wOff), F.lit(0)).cast("long").alias("off"),
        F.sum("c").over(wTot).cast("long").alias("total"),
    )
    j = ranked.join(F.broadcast(offsets), "bk").select(
        "doc_id", "hb", "n_chars", "total",
        (F.col("rn") + F.col("off")).cast("long").alias("position"),
    )
    # (position-1) and total are non-negative, so `div` (trunc) == floor
    return j.select(
        "doc_id",
        F.when(F.col("hb") < 100 - VAL_PCT, F.lit("train"))
        .otherwise(F.lit("val")).alias("split"),
        "position",
        (F.expr(f"(position - 1) * {N_SHARDS} div total") + 1)
        .cast("long").alias("shard_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


ORACLE_TRAINING_MANIFEST = f"""
WITH base AS (
  SELECT doc_id, n_chars,
         md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS h,
         CAST(('0x' || substr(md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)),
               1, 15)) AS BIGINT) % 100 AS hb
  FROM documents
),
ranked AS (
  SELECT doc_id, n_chars, hb,
         CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS position,
         CAST(count(*) OVER () AS BIGINT) AS total
  FROM base
)
SELECT doc_id,
       CASE WHEN hb < {100 - VAL_PCT} THEN 'train' ELSE 'val' END AS split,
       position,
       CAST((position - 1) * {N_SHARDS} // total + 1 AS BIGINT) AS shard_id,
       CAST(n_chars AS BIGINT) AS n_chars
FROM ranked
"""

QUERIES["training_manifest"] = q_training_manifest
ORACLES["training_manifest"] = ORACLE_TRAINING_MANIFEST


# --- fuzzy (MinHash) decontamination (round 8) -----------------------------
#
# `decontaminate_ngrams` is the exact 13-gram-style check; real
# pipelines also need the FUZZY pass (paraphrased or lightly edited
# benchmark text that exact n-grams miss): MinHash-band the corpus
# once, collide train docs against the benchmark set's band buckets,
# and verify candidates with exact shingle-set Jaccard. Reuses the
# dedup_minhash_lsh machinery end to end — but where near-dup dedup
# is a symmetric self-join, decontamination is ASYMMETRIC: the
# benchmark side is tiny by construction, so its band buckets
# BROADCAST and the corpus never shuffles for candidate generation —
# the shape that matters at 100 TB (corpus-side cost is one scan +
# signature pass; only candidates reach the Jaccard verify joins).

CONTAM_MICRO = 500_000  # verified Jaccard >= 0.5 -> contaminated


def q_decontaminate_fuzzy(spark, sf_dir):
    """The synthetic corpus has no cross train/bench near-dups, so the
    fixture is self-deriving (the dedup_exact re-crawl trick): every
    benchmark doc re-enters the TRAIN side under a shifted id with a
    token appended — the lightly-edited benchmark leak that exact
    n-gram decontamination can miss but shingle Jaccard catches. Both
    engines build the identical corpus, so the gate is non-degenerate
    at every SF (one hit per benchmark doc, Jaccard < 1.0)."""
    from ..operators import dedup as dd
    from ..session import own_aux, plan_key, plan_memo

    base = _read_table(
        spark, os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    leaked = base.filter(F.col("doc_id") % BENCH_MOD == 0).select(
        (F.col("doc_id") + 2_000_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" leakedcopy")).alias("text"),
    )
    d = base.unionByName(leaked)

    # r14 optimization (guide §5 caching / §1.2 "don't recompute"):
    # the before-plan showed 48 parquet scan nodes and ZERO cached
    # relations — the md5-shingle transform (the pipeline's dominant
    # cost) re-ran once per consumer: the banding lineage plus the
    # FOUR verify branches (sizes, both intersection sides, and the
    # pair relation used twice). Same fix its symmetric sibling
    # already carries (dd.minhash_lsh_verified: persist the hashed
    # relation, memoize the result per (session, input plan) with the
    # persisted intermediates riding in the registry value so
    # eviction releases them). ``cand`` is additionally persisted —
    # it is output-sized (one row per train x bench collision) and
    # feeds three branches (verify pairs twice + the semi-join).
    def build():
        hs = dd.hashed_shingle_docs(d, "text").persist()
        hs.count()  # materialize before concurrent consumers (r11 lesson)
        bands = dd.lsh_band_buckets(dd.minhash_from_hashed(hs))
        bench_bands = (
            bands.filter(F.col("doc_id") % BENCH_MOD == 0)
            .select(F.col("doc_id").alias("doc_b"), "band_key")
            .distinct()
        )
        train_bands = bands.filter(F.col("doc_id") % BENCH_MOD != 0)
        cand = (
            train_bands.join(F.broadcast(bench_bands), "band_key")
            .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
            .persist()
        )
        cand.count()
        # Verify only over the candidate docs' shingles: the symmetric
        # dedup verify needs the whole corpus (pairs span it), but here
        # non-candidate docs can't appear in any pair, so the size and
        # intersection aggregations semi-join down to the (small)
        # candidate set before they shuffle — per-doc sizes are
        # independent, so the filter cannot change any emitted value.
        cand_docs = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        hs_cand = hs.join(cand_docs, "doc_id", "left_semi")
        v = dd.jaccard_verify_hashed(hs_cand, cand)
        out = v.select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("bench_id"),
            "n_shared_bands", "n_inter", "n_union", "jaccard_micro",
            (F.col("jaccard_micro") >= CONTAM_MICRO).cast("long")
            .alias("is_contaminated"),
        )
        return own_aux(out, hs, cand)

    return plan_memo(spark, plan_key(d, "decontaminate_fuzzy"), build)


def _fuzzy_decon_oracle() -> str:
    from .dedup import SQL_BANDS_CTE, SQL_SIGS_CTE

    # same pipeline CTEs as the dedup oracle, over the leak-injected
    # corpus (2e9 % 97 = 68, so leaked ids always land train-side)
    sigs_on_corpus = SQL_SIGS_CTE.strip().replace(
        "FROM documents", "FROM corpus"
    )
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000000 AS doc_id, text || ' leakedcopy' AS text
  FROM documents WHERE doc_id % {BENCH_MOD} = 0
),
{sigs_on_corpus},
{SQL_BANDS_CTE.strip()},
bench_bands AS (
  SELECT DISTINCT doc_id AS doc_b, band_key FROM bands
  WHERE doc_id % {BENCH_MOD} = 0
),
cand AS (
  SELECT t.doc_id AS doc_a, b.doc_b,
         CAST(count(*) AS BIGINT) AS n_shared_bands
  FROM bands t JOIN bench_bands b ON t.band_key = b.band_key
  WHERE t.doc_id % {BENCH_MOD} <> 0
  GROUP BY t.doc_id, b.doc_b
),
doc_shingle AS (
  SELECT DISTINCT doc_id, h
  FROM (SELECT doc_id, unnest(hs) AS h FROM hashed) u
),
sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
  FROM doc_shingle GROUP BY doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN doc_shingle sa ON sa.doc_id = c.doc_a
  JOIN doc_shingle sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a AS doc_id, c.doc_b AS bench_id, c.n_shared_bands,
       coalesce(i.n_inter, 0) AS n_inter,
       za.n_sh + zb.n_sh - coalesce(i.n_inter, 0) AS n_union,
       coalesce(i.n_inter, 0) * 1000000
         // (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)) AS jaccard_micro,
       CAST(coalesce(i.n_inter, 0) * 1000000
         // (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0))
         >= {CONTAM_MICRO} AS BIGINT) AS is_contaminated
FROM cand c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes za ON za.doc_id = c.doc_a
JOIN sizes zb ON zb.doc_id = c.doc_b
"""


QUERIES["decontaminate_fuzzy"] = q_decontaminate_fuzzy
ORACLES["decontaminate_fuzzy"] = _fuzzy_decon_oracle()


# --- exact water-filling token-budget allocation (round 9) ----------------

BUDGET_NUM = 19  # budget = total * 19 div 20 — the mild "shave the
BUDGET_DEN = 20  # top domains" trim; calibrated so BOTH branches of
#                  the water line are non-degenerate on this corpus
#                  (12-13 of 20 sources capped, 7-8 kept whole, at
#                  both gated SFs — a 50% budget caps ALL 20, leaving
#                  the keep-everything branch untested)


def q_corpus_budget_allocation(spark, sf_dir):
    """Exact water-filling allocation of a token budget across sources
    — the capping step of data-recipe construction (Dolma/FineWeb
    style: over-represented sources are capped at a common level L,
    under-represented sources keep everything, and L is chosen so the
    budget is spent EXACTLY). Given per-source token counts T_s and
    budget B = total * BUDGET_NUM div BUDGET_DEN:

      allocated_s = min(T_s, L) (+1 for the first R capped sources by
      source asc), where L = max level with sum(min(T_s, L)) <= B and
      R = B - sum(min(T_s, L)) — the largest-remainder finish, so
      sum(allocated) == B exactly.

    L is found closed-form, not iteratively: sort sources by (T asc,
    source asc) with prefix sums; for row rn, the candidate level
    freezing rows < rn at their full T is L_rn = (B - prefix_before)
    div (n - rn + 1); the FIRST row whose candidate satisfies
    lag(T) <= L_rn < T_rn is the water line (min-rn tie-break pins
    integer-div edge cases identically on both engines).

    Plan at 100 TB: per-source totals are one map-side-combinable agg
    (source-bounded group space); everything after operates on
    n_sources rows — the global windows are single-partition by
    construction ON PURPOSE (20 rows here, thousands at worst in any
    real corpus registry), the same "tiny relation, exact algebra"
    stance as the PQ codebook. The corpus is scanned once."""
    from ..functions import text as tx

    d = _docs(spark, sf_dir)
    # r14 optimization (guide §2.4, §5): t (the source-bounded totals,
    # ~|sources| rows) is consumed by stats, the rank window AND the
    # final join lineage — the before-plan re-ran the corpus
    # token-count scan 4 times per action. localCheckpoint pins the
    # tiny relation; one corpus pass, everything downstream operates
    # on |sources| rows.
    t = d.groupBy("source").agg(
        F.sum(tx.whitespace_token_count(F.col("text")))
        .cast("long")
        .alias("t_tokens")
    ).localCheckpoint(eager=False)
    stats = t.agg(
        F.sum("t_tokens").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    t2 = t.crossJoin(F.broadcast(stats)).withColumn(
        "budget", F.expr(f"(total * {BUDGET_NUM}) div {BUDGET_DEN}")
    )
    w_rn = Window.orderBy(F.asc("t_tokens"), F.asc("source"))
    ranked = (
        t2.withColumn("rn", F.row_number().over(w_rn).cast("long"))
        .withColumn(
            "prefix_before",
            F.coalesce(
                F.sum("t_tokens").over(
                    w_rn.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
        .withColumn("prev_t", F.lag("t_tokens").over(w_rn))
    )
    cand = ranked.withColumn(
        "level", F.expr("(budget - prefix_before) div (n - rn + 1)")
    ).filter(
        (F.coalesce(F.col("prev_t"), F.lit(0)) <= F.col("level"))
        & (F.col("t_tokens") > F.col("level"))
    )
    line = (
        cand.orderBy("rn")
        .limit(1)
        .select(
            F.col("level").alias("wl_level"),
            F.col("prefix_before").alias("wl_prefix"),
            F.col("rn").alias("wl_rn"),
            F.col("n").alias("wl_n"),
            F.col("budget").alias("wl_budget"),
        )
    )
    # LEFT join: when budget >= total no row satisfies the water-line
    # predicate (every source fits), and the empty `line` relation must
    # mean "keep everything", not "zero rows out" (judge-r9 ADVICE —
    # the 19/20 constants guarantee a line exists today, but the
    # operator must not silently degenerate if the knob ever moves).
    j = ranked.join(F.broadcast(line), F.lit(True), "left").withColumn(
        "remainder",
        F.expr("wl_budget - (wl_prefix + (wl_n - wl_rn + 1) * wl_level)"),
    )
    capped = F.coalesce(
        F.col("t_tokens") > F.col("wl_level"), F.lit(False)
    )
    j = j.withColumn(
        "cap_rank",
        F.when(
            capped,
            F.row_number().over(
                Window.orderBy(
                    F.when(capped, 0).otherwise(1), F.asc("source")
                )
            ),
        ),
    )
    return j.select(
        "source",
        "t_tokens",
        F.when(~capped, F.col("t_tokens"))
        .otherwise(
            F.col("wl_level")
            + F.when(F.col("cap_rank") <= F.col("remainder"), 1).otherwise(0)
        )
        .cast("long")
        .alias("allocated"),
        capped.alias("capped"),
    ).orderBy("source")


def _budget_oracle() -> str:
    from ..functions import text as tx

    tc = tx.sql_whitespace_token_count("text")
    return f"""
WITH t AS (
  SELECT source, CAST(sum({tc}) AS BIGINT) AS t_tokens
  FROM documents GROUP BY source
),
stats AS (
  SELECT CAST(sum(t_tokens) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t_tokens) * {BUDGET_NUM} // {BUDGET_DEN} AS BIGINT) AS budget
  FROM t
),
ranked AS (
  SELECT t.*, stats.n, stats.budget,
         row_number() OVER (ORDER BY t_tokens ASC, source ASC) AS rn,
         CAST(coalesce(sum(t_tokens) OVER (
             ORDER BY t_tokens ASC, source ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS prefix_before,
         lag(t_tokens) OVER (ORDER BY t_tokens ASC, source ASC) AS prev_t
  FROM t, stats
),
line AS (
  SELECT level AS wl_level, prefix_before AS wl_prefix, rn AS wl_rn,
         n AS wl_n, budget AS wl_budget
  FROM (
    SELECT *, CAST((budget - prefix_before) // (n - rn + 1) AS BIGINT)
              AS level
    FROM ranked
  )
  WHERE coalesce(prev_t, 0) <= level AND t_tokens > level
  ORDER BY rn LIMIT 1
),
j AS (
  SELECT r.*, l.wl_level,
         CAST(l.wl_budget
              - (l.wl_prefix + (l.wl_n - l.wl_rn + 1) * l.wl_level)
           AS BIGINT) AS remainder,
         CASE WHEN r.t_tokens > l.wl_level THEN
           row_number() OVER (
             PARTITION BY (r.t_tokens > l.wl_level) ORDER BY r.source ASC)
         END AS cap_rank
  FROM ranked r LEFT JOIN line l ON TRUE
)
SELECT source, t_tokens,
       CAST(CASE WHEN wl_level IS NULL OR t_tokens <= wl_level
                 THEN t_tokens
                 ELSE wl_level
                      + (CASE WHEN cap_rank <= remainder THEN 1 ELSE 0 END)
            END AS BIGINT) AS allocated,
       coalesce(t_tokens > wl_level, FALSE) AS capped
FROM j
ORDER BY source
"""


QUERIES["corpus_budget_allocation"] = q_corpus_budget_allocation
ORACLES["corpus_budget_allocation"] = _budget_oracle()


# --- deterministic source-interleaved curriculum order (round 9) ----------

INTERLEAVE_SEED = "vl-interleave-1"
INTERLEAVE_SCALE = 1_000_000_000  # vt units; rn * SCALE stays in int64
#                                   for rn <= 9.2e9 (any real corpus's
#                                   per-source doc count)


def q_curriculum_interleave(spark, sf_dir):
    """Deterministic proportional source interleaving — stride
    scheduling (Waldspurger & Weihl 1995) applied to training-data
    ordering: within each source, docs get a seeded-shuffle rank
    rn = 1, 2, ...; the global reading order is ascending virtual time

        vt = rn * INTERLEAVE_SCALE div t_tokens(source)

    so a source holding fraction f of the corpus tokens occupies ~f of
    every prefix of the stream (its docs land every 1/f-th slot) — the
    reproducible interleave data loaders need instead of a random
    global shuffle that must be re-materialized to change the mix.
    The operator emits the ORDER KEY (vt, source, rn — a total order),
    not a materialized ordinal: consumers sort on it (a distributed
    range sort), and if ordinals are required the manifest's bucketed
    offset pattern applies (training_manifest shows it gated). All
    integer; ties across sources broken by (source, rn) — documented.

    Plan at 100 TB: per-source token totals are one map-side agg; the
    within-source rank is a window keyed on source (bounded groups —
    and a skewed mega-source ranks by seeded hash, not by any hot
    key); vt is scan-stage arithmetic. No global window anywhere."""
    from pyspark.sql import Window

    from ..functions import text as tx

    d = _docs(spark, sf_dir)
    t = d.groupBy("source").agg(
        F.sum(tx.whitespace_token_count(F.col("text")))
        .cast("long")
        .alias("t_tokens")
    )
    hs = F.md5(
        F.concat(
            F.lit(INTERLEAVE_SEED + ":"), F.col("doc_id").cast("string")
        ).cast("binary")
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    # zero-token sources have nothing to schedule; dropping them also
    # guards the vt division (Spark 4 ANSI throws on div-by-zero,
    # DuckDB yields NULL — an unguarded join would crash here and
    # silently diverge there on a pathological fixture)
    ranked = (
        d.select("doc_id", "source", hs.alias("h"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .join(F.broadcast(t.filter(F.col("t_tokens") > 0)), "source")
    )
    return ranked.select(
        "doc_id",
        "source",
        "rn",
        F.expr(f"(rn * {INTERLEAVE_SCALE}) div t_tokens")
        .cast("long")
        .alias("vt"),
    )


def _interleave_oracle() -> str:
    from ..functions import text as tx

    tc = tx.sql_whitespace_token_count("text")
    return f"""
WITH t AS (
  SELECT source, CAST(sum({tc}) AS BIGINT) AS t_tokens
  FROM documents GROUP BY source
),
ranked AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
             PARTITION BY source
             ORDER BY md5('{INTERLEAVE_SEED}:' || CAST(doc_id AS VARCHAR)),
                      doc_id) AS BIGINT) AS rn
  FROM documents
)
SELECT r.doc_id, r.source, r.rn,
       CAST((r.rn * {INTERLEAVE_SCALE}) // t.t_tokens AS BIGINT) AS vt
FROM ranked r JOIN t ON r.source = t.source
WHERE t.t_tokens > 0
"""


QUERIES["curriculum_interleave"] = q_curriculum_interleave
ORACLES["curriculum_interleave"] = _interleave_oracle()


def q_curriculum_interleave_lang(spark, sf_dir):
    """Per-language curriculum strata (round 10; judge-r9 item 7) —
    the same stride scheduling as ``curriculum_interleave`` with the
    stratum refined from source to (source, language):

        vt = rn * INTERLEAVE_SCALE div t_tokens(source, lang)

    where rn is the seeded-shuffle rank WITHIN the (source, lang)
    stratum. Every prefix of the vt order then holds each (source,
    lang) cell in proportion to its token share — so per-language
    proportions are preserved inside every source (the multilingual
    data-loader requirement: a batch must not drift anglophone just
    because English docs cluster early in one source's shuffle).
    Order key (vt, source, lang, rn) is a total order; no materialized
    ordinal for the same reason as the source-level form.

    Plan at 100 TB: identical shape to the source-level operator —
    one map-side-combinable (source, lang) token agg (group space =
    sources × languages, broadcastable forever), a window keyed on
    the (source, lang) stratum (seeded-hash order, no hot key), vt as
    scan-stage arithmetic. No global window anywhere."""
    from pyspark.sql import Window

    from ..functions import text as tx

    d = _docs(spark, sf_dir)
    t = d.groupBy("source", "lang").agg(
        F.sum(tx.whitespace_token_count(F.col("text")))
        .cast("long")
        .alias("t_tokens")
    )
    hs = F.md5(
        F.concat(
            F.lit(INTERLEAVE_SEED + ":"), F.col("doc_id").cast("string")
        ).cast("binary")
    )
    w = Window.partitionBy("source", "lang").orderBy("h", "doc_id")
    ranked = (
        d.select("doc_id", "source", "lang", hs.alias("h"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .join(F.broadcast(t.filter(F.col("t_tokens") > 0)), ["source", "lang"])
    )
    return ranked.select(
        "doc_id",
        "source",
        "lang",
        "rn",
        F.expr(f"(rn * {INTERLEAVE_SCALE}) div t_tokens")
        .cast("long")
        .alias("vt"),
    )


def _interleave_lang_oracle() -> str:
    from ..functions import text as tx

    tc = tx.sql_whitespace_token_count("text")
    return f"""
WITH t AS (
  SELECT source, lang, CAST(sum({tc}) AS BIGINT) AS t_tokens
  FROM documents GROUP BY source, lang
),
ranked AS (
  SELECT doc_id, source, lang,
         CAST(row_number() OVER (
             PARTITION BY source, lang
             ORDER BY md5('{INTERLEAVE_SEED}:' || CAST(doc_id AS VARCHAR)),
                      doc_id) AS BIGINT) AS rn
  FROM documents
)
SELECT r.doc_id, r.source, r.lang, r.rn,
       CAST((r.rn * {INTERLEAVE_SCALE}) // t.t_tokens AS BIGINT) AS vt
FROM ranked r JOIN t ON r.source = t.source AND r.lang = t.lang
WHERE t.t_tokens > 0
"""


QUERIES["curriculum_interleave_lang"] = q_curriculum_interleave_lang
ORACLES["curriculum_interleave_lang"] = _interleave_lang_oracle()
