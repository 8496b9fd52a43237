"""Dedup queries with DuckDB oracles (exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding near-dup)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    MINHASH_PERMS,
    P,
    sql_hamming16,
    sql_minhash_term,
    sql_simhash16,
    sql_stable_hash64,
    stable_hash64,
)
from ..functions.text import sql_tokens
from ..operators import dedup as dd


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the synthetic corpus is one small parquet file -> 1 input split;
    # spread the per-doc hashing across cores — probe-gated, so at
    # real scale (wide scans) no repartition happens
    from ..session import read_spread

    return read_spread(
        spark, os.path.join(sf_dir, "documents.parquet"), "doc_id"
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same single-row-group spread as _docs: the cosine fold is the
    # dominant per-row cost and must not run in one task
    from ..session import read_spread

    return read_spread(
        spark, os.path.join(sf_dir, "embeddings.parquet"), "vec_id"
    )


# --- shared SQL fragments --------------------------------------------------

SQL_SHINGLES = (
    "(CASE WHEN len({toks}) >= 3 THEN list_transform("
    "generate_series(1, len({toks}) - 2),"
    " i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2])"
    " ELSE [] END)"
).format(toks=sql_tokens("text"))

SQL_SIG_COLS = ", ".join(
    "list_min(list_transform(hs, h -> ({a} * h + {b}) % {p})) AS mh{i}".format(
        a=MINHASH_PERMS[i][0], b=MINHASH_PERMS[i][1], p=P, i=i
    )
    for i in range(dd.N_PERMS)
)

SQL_SIGS_CTE = f"""
sh_docs AS (
  SELECT doc_id, {SQL_SHINGLES} AS sh FROM documents
),
hashed AS (
  SELECT doc_id, list_transform(sh, s -> {sql_stable_hash64('s')} % {P}) AS hs
  FROM sh_docs WHERE len(sh) >= 1
),
sigs AS (
  SELECT doc_id, {SQL_SIG_COLS} FROM hashed
)"""

_band_rows = ", ".join(
    f"({b}, 'b' || {b} || ':' || CAST(mh{2 * b} AS VARCHAR) || ':' || CAST(mh{2 * b + 1} AS VARCHAR))"
    for b in range(dd.N_BANDS)
)
SQL_BANDS_CTE = f"""
bands AS (
  SELECT doc_id, band_key FROM sigs,
  LATERAL (VALUES {_band_rows}) AS v(band_idx, band_key)
)"""

SQL_CAND_CTE = """
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared_bands
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)"""


# --- queries ----------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact hash-groupBy dedup over a 're-crawl' corpus: the synthetic
    documents have no byte-identical pairs, so every 7th document is
    unioned back under a shifted id (the web-scale situation: the same
    page fetched twice under different URLs). Non-degenerate output —
    every 7th doc forms a dup group."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    recrawl = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text"
    )
    return dd.exact_duplicates(d.unionByName(recrawl))


ORACLE_DEDUP_EXACT = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
)
SELECT md5(text) AS content_md5, CAST(count(*) AS BIGINT) AS n_dups,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id
FROM corpus GROUP BY md5(text) HAVING count(*) >= 2
"""


def q_minhash_signatures(spark, sf_dir):
    return dd.minhash_signatures(_docs(spark, sf_dir))


ORACLE_MINHASH_SIGS = f"WITH {SQL_SIGS_CTE.strip()} SELECT * FROM sigs"


def q_dedup_minhash_lsh(spark, sf_dir):
    """Full LSH pipeline: signatures -> band buckets -> candidate
    pairs -> exact-Jaccard verification. The signature kernel is the
    one ``minhash_signatures`` gates (operators/dedup.minhash_from_hashed)."""
    return dd.minhash_lsh_verified(_docs(spark, sf_dir))


ORACLE_DEDUP_MINHASH = f"""
WITH {SQL_SIGS_CTE.strip()},
{SQL_BANDS_CTE.strip()},
{SQL_CAND_CTE.strip()},
doc_shingle AS (
  SELECT DISTINCT doc_id, h
  FROM (SELECT doc_id, unnest(hs) AS h FROM hashed) u
),
sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM doc_shingle GROUP BY doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN doc_shingle sa ON sa.doc_id = c.doc_a
  JOIN doc_shingle sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b, c.n_shared_bands,
       coalesce(i.n_inter, 0) AS n_inter,
       za.n_sh + zb.n_sh - coalesce(i.n_inter, 0) AS n_union,
       coalesce(i.n_inter, 0) * 1000000 // (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0))
         AS jaccard_micro
FROM cand c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes za ON za.doc_id = c.doc_a
JOIN sizes zb ON zb.doc_id = c.doc_b
"""


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup: 4x4-bit banded candidate join, verify
    hamming <= 3 (operators/dedup.simhash_near_dups). The banding is
    recall-lossless for hamming <= 3 (pigeonhole), so the oracle is
    the EXHAUSTIVE pair join — the hash match proves the banded plan
    finds every qualifying pair, not merely that both engines share a
    bucketing heuristic."""
    return dd.simhash_near_dups(_docs(spark, sf_dir))


ORACLE_DEDUP_SIMHASH = f"""
WITH tok_docs AS (
  SELECT doc_id,
         list_transform({sql_tokens('text')}, t -> {sql_stable_hash64('t')} % {P}) AS hs
  FROM documents
),
sims AS (
  SELECT doc_id, {sql_simhash16('hs')} AS simhash
  FROM tok_docs WHERE len(hs) > 0
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({sql_hamming16('a.simhash', 'b.simhash')} AS BIGINT) AS hamming
FROM sims a JOIN sims b
  ON a.doc_id < b.doc_id
WHERE {sql_hamming16('a.simhash', 'b.simhash')} <= 3
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Word-bigram Jaccard over blocked pairs (block = lang +
    length-bucket; 10% doc sample)."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    from ..functions.text import tokens

    toks = tokens(F.col("text"))
    bigrams = F.when(
        F.size(toks) >= 2,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    dd_ = d.select(
        "doc_id", "lang", (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
        bigrams.alias("bg"),
    ).filter(F.size("bg") > 0)
    a = dd_.select(
        F.col("doc_id").alias("doc_a"), "lang", "len_bucket", F.col("bg").alias("bg_a")
    )
    b = dd_.select(
        F.col("doc_id").alias("doc_b"), "lang", "len_bucket", F.col("bg").alias("bg_b")
    )
    pairs = a.join(b, ["lang", "len_bucket"]).filter(F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect("bg_a", "bg_b")).cast("long")
    union = F.size(F.array_union("bg_a", "bg_b")).cast("long")
    return pairs.select(
        "doc_a", "doc_b",
        F.expr(
            "div(size(array_intersect(bg_a, bg_b)) * cast(1000000 as bigint),"
            " size(array_union(bg_a, bg_b)))"
        ).alias("jaccard_micro"),
        # threshold calibrated to the synthetic corpus (bigram overlap
        # within lang+length blocks peaks ~0.09): >= 0.025 keeps the
        # verify path non-degenerate
    ).filter(F.col("jaccard_micro") >= 25000)


_SQL_BIGRAMS = (
    "(CASE WHEN len({t}) >= 2 THEN list_distinct(list_transform("
    "generate_series(1, len({t}) - 1), i -> {t}[i] || ' ' || {t}[i+1]))"
    " ELSE [] END)"
).format(t=sql_tokens("text"))

ORACLE_NGRAM_JACCARD = f"""
WITH bg_docs AS (
  SELECT doc_id, lang, CAST(n_chars // 100 AS BIGINT) AS len_bucket,
         {_SQL_BIGRAMS} AS bg
  FROM documents WHERE doc_id % 10 = 0
),
nonempty AS (SELECT * FROM bg_docs WHERE len(bg) > 0)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_distinct(list_intersect(a.bg, b.bg))) * 1000000
            // len(list_distinct(list_concat(a.bg, b.bg))) AS BIGINT) AS jaccard_micro
FROM nonempty a JOIN nonempty b
  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
WHERE len(list_distinct(list_intersect(a.bg, b.bg))) * 1000000
      // len(list_distinct(list_concat(a.bg, b.bg))) >= 25000
"""


SQL_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform(generate_series(1, len({a})),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (acc, x) -> acc + x)"
)


def _dot(a, b):
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0).cast("double"), lambda acc, x: acc + x)


def cos_micro(a, b):
    """Exact-FP cosine in integer micro-units. ``a``/``b`` may be
    Columns or column NAMES — name args make the expression a pure
    function of two strings, so the built tree (3 higher-order folds,
    ~0.12 s of py4j chatter) is memoized per session
    (session.expr_memo) instead of rebuilt per query construction."""
    if isinstance(a, str) and isinstance(b, str):
        from ..session import expr_memo

        return expr_memo(
            ("cos_micro", a, b), lambda: cos_micro(F.col(a), F.col(b))
        )
    # null for a zero-norm vector, as the oracle's division gives
    # (ANSI ``/`` raises DIVIDE_BY_ZERO)
    cos = F.try_divide(_dot(a, b), F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))
    return F.floor(cos * 1000000.0).cast("long")


def sql_cos_micro(a: str, b: str) -> str:
    dot = SQL_DOT.format(a=a, b=b)
    na = SQL_DOT.format(a=a, b=a)
    nb = SQL_DOT.format(a=b, b=b)
    return f"CAST(floor(({dot}) / (sqrt({na}) * sqrt({nb})) * 1000000.0) AS BIGINT)"


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup: same-label blocking, 20% sample,
    cosine >= 0.95."""
    e = _emb(spark, sf_dir).filter(F.col("vec_id") % 5 == 0)
    a = e.select(F.col("vec_id").alias("vec_a"), "label", F.col("embedding").alias("emb_a"))
    b = e.select(F.col("vec_id").alias("vec_b"), "label", F.col("embedding").alias("emb_b"))
    pairs = a.join(b, "label").filter(F.col("vec_a") < F.col("vec_b"))
    cm = cos_micro("emb_a", "emb_b")
    return pairs.select(
        "vec_a", "vec_b", F.col("label").cast("long").alias("label"),
        cm.alias("cos_micro"),
    ).filter(F.col("cos_micro") >= 200000)


ORACLE_DEDUP_EMBEDDING = f"""
WITH sample AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(a.label AS BIGINT) AS label,
       {sql_cos_micro('a.embedding', 'b.embedding')} AS cos_micro
FROM sample a JOIN sample b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {sql_cos_micro('a.embedding', 'b.embedding')} >= 200000
"""


SUBSTR_L = 8  # tokens per exact-substring window


def _substr_base_occ_islands(d: DataFrame):
    """Shared core of the ExactSubstr pair: (base, occ, islands).

    base(doc_id, n_tokens, t): tokenized docs.
    occ(doc_id, start, gh): occurrences of SUBSTR_L-token windows that
    appear verbatim in >= 2 documents (1-based token start).
    islands(doc_id, s, e): the merged covered intervals — overlapping
    occurrence spans [start, start+L-1] chained via gaps-and-islands
    (one doc_id window shuffle, no xL position explode).
    """
    toks = F.split("text", " ")
    base = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        toks.alias("t"),
    )
    grams = base.filter(F.col("n_tokens") >= SUBSTR_L).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - SUBSTR_L + 1),
                lambda i: F.struct(
                    i.cast("long").alias("start"),
                    stable_hash64(
                        F.array_join(F.slice(F.col("t"), i, SUBSTR_L), " ")
                    ).alias("gh"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.start").alias("start"), F.col("g.gh").alias("gh"))
    dup_gh = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    occ = grams.join(dup_gh, "gh", "left_semi")
    occ2 = occ.withColumn("end", F.col("start") + SUBSTR_L - 1)
    w = Window.partitionBy("doc_id").orderBy("start")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    occ2 = occ2.withColumn(
        "new_island",
        (prev_max_end.isNull() | (F.col("start") > prev_max_end)).cast("long"),
    ).withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = occ2.groupBy("doc_id", "island").agg(
        F.min("start").cast("long").alias("s"),
        F.max("end").cast("long").alias("e"),
    )
    return base, occ, islands


def q_dedup_exact_substr(spark, sf_dir):
    """ExactSubstr-style dedup (the "Deduplicating Training Data Makes
    Language Models Better" approach, re-expressed relationally): any
    SUBSTR_L-token window that occurs verbatim in >= 2 documents marks
    a repeated span; per document we report how many of its windows
    are repeated and what fraction of its TOKENS is covered by at
    least one repeated window — the quantity an exact-substring
    deduper would cut. Complements MinHash/SimHash (whole-doc
    near-dup) with span-level exact duplication.

    Plan at 100 TB: windows are scan-stage array expressions
    (posexplode); the duplicate-window set is one count-distinct
    aggregation shuffled on the 60-bit window hash (uniform key, no
    skew); occurrences semi-join that set on the same key; coverage
    comes from the doc_id-keyed interval merge below. No pair space
    anywhere — cost is O(corpus tokens), which is the property that
    makes suffix-array dedup's relational cousin feasible on Spark.

    Coverage via interval merge (gaps-and-islands), NOT a position
    explode: each occurrence covers [start, start+L-1]; occurrences
    sorted per doc chain into islands wherever they overlap, and an
    island's union is the contiguous [min(start), max(end)]. This
    shuffles only the occ rows once on doc_id (vs exploding x
    SUBSTR_L positions and hash-distincting (doc, pos) — 8x the
    intermediate data; warm at sf0.1 the full query runs ~0.8 s vs
    ~1.3 s for the explode form's coverage stage ALONE, and the gap
    widens with L)."""
    base, occ, islands = _substr_base_occ_islands(_docs(spark, sf_dir))
    n_rep = occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_repeated_grams")
    )
    covered = (
        islands.select(
            "doc_id", (F.col("e") - F.col("s") + 1).cast("long").alias("ilen")
        )
        .groupBy("doc_id")
        .agg(F.sum("ilen").cast("long").alias("covered_tokens"))
    )
    stats = (
        base.select(
            "doc_id", "n_tokens",
            F.greatest(
                F.col("n_tokens") - SUBSTR_L + 1, F.lit(0)
            ).cast("long").alias("n_grams"),
        )
        .join(n_rep, "doc_id", "left")
        .join(covered, "doc_id", "left")
    )
    cov = F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("long")
    return stats.select(
        "doc_id", "n_tokens", "n_grams",
        F.coalesce(F.col("n_repeated_grams"), F.lit(0)).cast("long")
        .alias("n_repeated_grams"),
        cov.alias("covered_tokens"),
        F.expr(
            f"div(coalesce(covered_tokens, 0) * cast(1000000 as bigint),"
            f" n_tokens)"
        ).alias("covered_micro"),
    )


def _substr_oracle() -> str:
    gram = f"array_to_string(t[start:start + {SUBSTR_L - 1}], ' ')"
    return f"""
WITH base AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         string_split(text, ' ') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         CAST(unnest(generate_series(1, n_tokens - {SUBSTR_L - 1})) AS BIGINT)
           AS start, t
  FROM base WHERE n_tokens >= {SUBSTR_L}
),
hashed AS (
  SELECT doc_id, start, {sql_stable_hash64(gram)} AS gh FROM grams
),
dup_gh AS (
  SELECT gh FROM hashed GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
),
occ AS (
  SELECT h.doc_id, h.start FROM hashed h WHERE h.gh IN (SELECT gh FROM dup_gh)
),
n_rep AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_repeated_grams
  FROM occ GROUP BY doc_id
),
covered AS (
  SELECT doc_id, CAST(count(DISTINCT pos) AS BIGINT) AS covered_tokens
  FROM (
    SELECT doc_id, unnest(generate_series(start, start + {SUBSTR_L - 1})) AS pos
    FROM occ
  ) GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       CAST(greatest(b.n_tokens - {SUBSTR_L - 1}, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(n_rep.n_repeated_grams, 0) AS BIGINT) AS n_repeated_grams,
       CAST(coalesce(covered.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       CAST(coalesce(covered.covered_tokens, 0) * 1000000 // b.n_tokens AS BIGINT)
         AS covered_micro
FROM base b
LEFT JOIN n_rep ON b.doc_id = n_rep.doc_id
LEFT JOIN covered ON b.doc_id = covered.doc_id
"""


def _cut_kept_exists(t, cuts):
    """Per-token position-in-any-interval filter — O(n_tokens x
    n_islands) interpreted-HOF evaluations per doc. LABELED BASELINE:
    kept only for the probe (PLANS.md round-8 cut-emitter A/B); the
    slice form below wins on island-dense docs."""
    return F.filter(
        t,
        lambda x, i: ~F.exists(
            cuts, lambda c: ((i + 1) >= c["s"]) & ((i + 1) <= c["e"])
        ),
    )


def _cut_kept_slices(t, n_tokens, cuts):
    """Sorted-islands slice cut — O(n_tokens + n_islands): islands are
    disjoint, so walking them in order and slicing the gaps touches
    every token once (each slice is one JVM arraycopy), instead of
    evaluating an interpreted interval-membership predicate per
    (token x island). The aggregate carries (pos, kept-so-far) and
    the finish step appends the tail after the last island."""
    return F.aggregate(
        F.array_sort(cuts),
        F.struct(
            F.lit(1).cast("long").alias("pos"),
            F.expr("cast(array() as array<string>)").alias("acc"),
        ),
        lambda acc, c: F.struct(
            (c["e"] + 1).cast("long").alias("pos"),
            F.concat(
                acc["acc"],
                F.slice(
                    t,
                    acc["pos"].cast("int"),
                    F.greatest(c["s"] - acc["pos"], F.lit(0)).cast("int"),
                ),
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"],
            F.slice(
                t,
                acc["pos"].cast("int"),
                F.greatest(n_tokens - acc["pos"] + 1, F.lit(0)).cast("int"),
            ),
        ),
    )


def q_dedup_exact_substr_cut(spark, sf_dir):
    """ExactSubstr dedup that EMITS the cleaned corpus (what the
    suffix-array deduper of "Deduplicating Training Data Makes
    Language Models Better" actually outputs): every token covered by
    a repeated SUBSTR_L-window is cut, the survivors reassemble into
    ``cleaned_text``. The stats twin (``dedup_exact_substr``) reports
    how much WOULD be cut; this one cuts it.

    Plan at 100 TB: the merged cut intervals per doc (already one
    doc_id-keyed shuffle, see ``_substr_base_occ_islands``) collect
    into a per-doc array — bounded by n_tokens/L intervals per doc,
    never corpus-sized — and the cut itself is the scan-stage
    sorted-islands slice walk (``_cut_kept_slices``, O(n_tokens +
    n_islands) per doc; the per-token F.exists membership test lost
    the island-dense A/B — PLANS.md round-8), so reassembly adds ONE
    more doc_id shuffle (the collect_list) and zero pair space. No xL
    position explode, no per-row Python."""
    base, _, islands = _substr_base_occ_islands(_docs(spark, sf_dir))
    per_doc = islands.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("cuts")
    )
    joined = base.join(per_doc, "doc_id", "left")
    kept_arr = F.when(F.col("cuts").isNull(), F.col("t")).otherwise(
        _cut_kept_slices(F.col("t"), F.col("n_tokens"), F.col("cuts"))
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        F.size(kept_arr).cast("long").alias("kept_tokens"),
        F.array_join(kept_arr, " ").alias("cleaned_text"),
    )


def _substr_cut_oracle() -> str:
    gram = f"array_to_string(t[start:start + {SUBSTR_L - 1}], ' ')"
    return f"""
WITH base AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         string_split(text, ' ') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
         CAST(unnest(generate_series(1, n_tokens - {SUBSTR_L - 1})) AS BIGINT)
           AS start, t
  FROM base WHERE n_tokens >= {SUBSTR_L}
),
hashed AS (
  SELECT doc_id, start, {sql_stable_hash64(gram)} AS gh FROM grams
),
dup_gh AS (
  SELECT gh FROM hashed GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
),
occ AS (
  SELECT h.doc_id, h.start, h.start + {SUBSTR_L - 1} AS e
  FROM hashed h WHERE h.gh IN (SELECT gh FROM dup_gh)
),
marked AS (
  SELECT doc_id, start, e,
         CASE WHEN max(e) OVER (
                  PARTITION BY doc_id ORDER BY start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR start > max(e) OVER (
                  PARTITION BY doc_id ORDER BY start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS ni
  FROM occ
),
chained AS (
  SELECT doc_id, start, e,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY start
                       ROWS UNBOUNDED PRECEDING) AS island
  FROM marked
),
islands AS (
  SELECT doc_id, island, CAST(min(start) AS BIGINT) AS s,
         CAST(max(e) AS BIGINT) AS e
  FROM chained GROUP BY doc_id, island
),
positions AS (
  SELECT doc_id, CAST(unnest(generate_series(1, n_tokens)) AS BIGINT) AS pos, t
  FROM base WHERE n_tokens >= 1
),
kept AS (
  SELECT p.doc_id, p.pos, p.t[p.pos] AS w
  FROM positions p
  WHERE NOT EXISTS (
    SELECT 1 FROM islands i
    WHERE i.doc_id = p.doc_id AND p.pos BETWEEN i.s AND i.e
  )
),
cleaned AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
         string_agg(w, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       CAST(coalesce(c.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       coalesce(c.cleaned_text, '') AS cleaned_text
FROM base b LEFT JOIN cleaned c ON b.doc_id = c.doc_id
"""


SEG_L = 12      # tokens per segment (the "line" proxy; the corpus has no newlines)
BOILER_K = 2    # segment is boilerplate if it appears in >= K distinct docs


def q_dedup_segments(spark, sf_dir):
    """Segment-level boilerplate removal (the line-dedup stage of
    CCNet/RefinedWeb-style pipelines, on a corpus without newlines):
    split each doc into consecutive SEG_L-token segments; any FULL
    segment whose exact text occurs in >= BOILER_K distinct docs is
    boilerplate and is cut; the doc is re-assembled from the retained
    segments in order. Unlike ``dedup_exact_substr`` (span statistics)
    this is a TRANSFORMATION — the output carries the cleaned text, so
    the hash gate proves order-correct reassembly, not just counts.

    Plan at 100 TB: segments are scan-stage array expressions; the
    boilerplate set is one aggregation keyed on the segment hash
    (uniform key) and is SMALL by construction (only segments repeated
    across docs), so the removal join broadcasts it — the corpus
    itself shuffles once, on doc_id, for reassembly. Partial tail
    segments are never boilerplate candidates (a short tail repeating
    is not evidence of boilerplate)."""
    d = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    base = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n"),
        toks.alias("t"),
    )
    seg = base.select(
        "doc_id", "n",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.floor((F.col("n") - 1) / SEG_L)),
                lambda si: F.struct(
                    si.cast("long").alias("si"),
                    F.array_join(
                        F.slice(F.col("t"), si * SEG_L + 1, SEG_L), " "
                    ).alias("stext"),
                    F.least(
                        F.col("n") - si * SEG_L, F.lit(SEG_L)
                    ).cast("long").alias("slen"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.si", "s.stext", "s.slen")
    boiler = (
        seg.filter(F.col("slen") == SEG_L)
        .groupBy("stext")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= BOILER_K)
        .select("stext")
    )
    # r14 optimization (guide §2.4): the old form ran THREE corpus
    # passes — boiler build, a left_anti join re-deriving seg, and a
    # third base scan for per-doc totals joined back at the end. The
    # anti-join is now a broadcast LEFT join marker and ONE
    # conditional aggregation computes totals and reassembly in the
    # same pass (collect_list skips the NULLed boiler segments; every
    # doc has >= 1 segment so the groupBy covers all docs). 3 corpus
    # passes -> 2, one join fewer; values identical. At 100 TB the
    # remaining improvement is keying the boiler rollup on a segment
    # hash so its shuffle carries 16 bytes/segment instead of the
    # text (the exact_substr window-hash discipline) — not taken here
    # because the text-keyed form is exactly what the oracle states.
    flagged = seg.join(
        F.broadcast(boiler.withColumn("__boiler", F.lit(1))), "stext", "left"
    )
    keep = F.col("__boiler").isNull()
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(F.when(keep, 0).otherwise(1)).cast("long").alias("n_removed"),
        F.coalesce(
            F.sum(F.when(keep, F.col("slen"))), F.lit(0)
        ).cast("long").alias("kept_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("si", "stext")))
                ),
                lambda x: x.getField("stext"),
            ),
            " ",
        ).alias("cleaned_text"),
    )


ORACLE_DEDUP_SEGMENTS = f"""
WITH base AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         string_split(text, ' ') AS t
  FROM documents
),
seg AS (
  SELECT doc_id, n,
         CAST(unnest(generate_series(0, (n - 1) // {SEG_L})) AS BIGINT) AS si,
         t
  FROM base
),
segtext AS (
  SELECT doc_id, si,
         array_to_string(t[si * {SEG_L} + 1 : si * {SEG_L} + {SEG_L}], ' ')
           AS stext,
         CAST(least(n - si * {SEG_L}, {SEG_L}) AS BIGINT) AS slen
  FROM seg
),
boiler AS (
  SELECT stext FROM segtext WHERE slen = {SEG_L}
  GROUP BY stext HAVING count(DISTINCT doc_id) >= {BOILER_K}
),
kept AS (
  SELECT s.* FROM segtext s WHERE s.stext NOT IN (SELECT stext FROM boiler)
),
rebuilt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(slen) AS BIGINT) AS kept_tokens,
         string_agg(stext, ' ' ORDER BY si) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       CAST((b.n - 1) // {SEG_L} + 1 AS BIGINT) AS n_segments,
       CAST((b.n - 1) // {SEG_L} + 1 - coalesce(r.n_kept, 0) AS BIGINT)
         AS n_removed,
       CAST(coalesce(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       coalesce(r.cleaned_text, '') AS cleaned_text
FROM base b LEFT JOIN rebuilt r ON b.doc_id = r.doc_id
"""


DUP_THRESH_MICRO = 600_000  # verified-Jaccard cut for "same document"


def q_dedup_clusters(spark, sf_dir):
    """The dedup pipeline's actionable output: near-dup CLUSTERS.
    Verified LSH pairs above the Jaccard threshold become edges;
    connected components (pointer-doubling min-label fixpoint,
    operators/graph.py) assigns each document its cluster; the
    minimum doc_id in a cluster is the keeper, the rest are drops.
    The oracle mirrors the fixpoint with a recursive CTE — the second
    iterative algorithm under the cross-engine hash gate."""
    from ..operators.graph import connected_components

    docs = _docs(spark, sf_dir)
    pairs = dd.minhash_lsh_verified(docs).filter(
        F.col("jaccard_micro") >= DUP_THRESH_MICRO
    )
    cc = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return cc.join(sizes, "component").select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("cluster_id"),
        "cluster_size",
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {SQL_SIGS_CTE.strip()},
{SQL_BANDS_CTE.strip()},
{SQL_CAND_CTE.strip()},
doc_shingle AS (
  SELECT DISTINCT doc_id, h
  FROM (SELECT doc_id, unnest(hs) AS h FROM hashed) u
),
sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM doc_shingle GROUP BY doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN doc_shingle sa ON sa.doc_id = c.doc_a
  JOIN doc_shingle sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
  GROUP BY c.doc_a, c.doc_b
),
dedges AS (
  SELECT c.doc_a AS src, c.doc_b AS dst
  FROM cand c
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  JOIN sizes za ON za.doc_id = c.doc_a
  JOIN sizes zb ON zb.doc_id = c.doc_b
  WHERE coalesce(i.n_inter, 0) * 1000000
        // (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)) >= {DUP_THRESH_MICRO}
),
sym AS (
  SELECT src, dst FROM dedges UNION ALL SELECT dst AS src, src AS dst FROM dedges
),
reach(a, b) AS (
  SELECT src, src FROM sym
  UNION
  SELECT r.a, e.dst FROM reach r JOIN sym e ON e.src = r.b
),
comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
csize AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY cluster_id
)
SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
       CAST(c.cluster_id AS BIGINT) AS cluster_id,
       s.cluster_size,
       c.doc_id = c.cluster_id AS is_keeper
FROM comp c JOIN csize s USING (cluster_id)
"""


# --- AllPairs exact similarity join via prefix filtering (round 8) ---------

SIMJOIN_N = 3                  # shingle width (3-token grams)
SIMJOIN_THRESH_MICRO = 400_000  # Jaccard >= 0.4
SIMJOIN_POSITIONAL = True      # ppjoin positional filter (r10 A/B flag)


def _allpairs_core(d):
    """(doc_id, t: array<string>) with DISTINCT texts -> (pairs,
    sizes): qualifying pairs by prefix filtering and each doc's
    shingle-set size. See q_simjoin_allpairs for the math."""
    from pyspark.sql import Window

    d = d.filter(F.size("t") >= SIMJOIN_N)
    # r14 optimization (guide §2.4 remove shuffles outright): the
    # per-doc distinct sorted shingle set is a pure function of one
    # row, so build it IN-ROW (array_distinct + array_sort over the
    # shingle transform) instead of explode -> corpus-wide DISTINCT
    # exchange -> collect_set groupBy exchange. That deletes the two
    # heaviest shuffles of the old plan — both carried the full gram
    # stream (corpus-token-count rows) — and drops one of the three
    # per-invocation materialization jobs: ``sets`` is now THE
    # checkpointed relation (it feeds freq, prefix and both verify
    # legs; the k-core lineage discipline), and the exploded gram
    # stream is derived from it shuffle-free, already distinct
    # per doc by construction.
    sets = d.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (SIMJOIN_N - 1)),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("t", i),
                        F.element_at("t", i + 1),
                        F.element_at("t", i + 2),
                    ),
                )
            )
        ).alias("s"),
    ).withColumn("sz", F.size("s").cast("long")).localCheckpoint()
    grams = sets.select("doc_id", "sz", F.explode("s").alias("g"))
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("g"))
    prefix = (
        grams.join(freq, "g")  # sz already rides on the gram rows
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= F.col("sz") - F.expr("(4 * sz + 9) div 10") + 1)
        .select("doc_id", "g", "sz", "rn")
    )
    # length filter (the standard AllPairs companion): J(r,s) <=
    # min(sz)/max(sz), so J >= 0.4 requires 10*min >= 4*max — a
    # size-incompatible collision can never verify; dropping it here
    # cannot change the output, only the candidate volume
    collide = (
        prefix.select(F.col("doc_id").alias("doc_a"), "g",
                      F.col("sz").alias("sz_a"), F.col("rn").alias("rn_a"))
        .join(
            prefix.select(F.col("doc_id").alias("doc_b"), "g",
                          F.col("sz").alias("sz_b"),
                          F.col("rn").alias("rn_b")),
            "g",
        )
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("sz_b") * 10 >= F.col("sz_a") * 4)
            & (F.col("sz_a") * 10 >= F.col("sz_b") * 4)
        )
    )
    if SIMJOIN_POSITIONAL:
        # positional filter (ppjoin, Xiao et al. 2008): both docs
        # order their grams by the SAME global (df, g) total order,
        # so a shared gram at ranks (rn_a, rn_b) bounds the overlap
        # by 1 + min(sz_a - rn_a, sz_b - rn_b) (the gram itself plus
        # what can still follow it in BOTH orders); J >= 0.4 needs
        # overlap >= ceil(2*(sz_a+sz_b)/7) = (2*(sz_a+sz_b)+6) div 7.
        # A collision whose upper bound misses that can never verify
        # — dropping it cannot change the output (A/B in PLANS.md
        # round-10), only the verified-pair volume.
        collide = collide.filter(
            1
            + F.least(
                F.col("sz_a") - F.col("rn_a"), F.col("sz_b") - F.col("rn_b")
            )
            >= F.expr("(2 * (sz_a + sz_b) + 6) div 7")
        )
    cand = collide.select("doc_a", "doc_b").distinct()
    verified = (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("s").alias("s_a"), F.col("sz").alias("sz_a"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("s").alias("s_b"), F.col("sz").alias("sz_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("s_a", "s_b")).cast("long")
            .alias("n_inter"),
            "sz_a", "sz_b",
        )
        .select(
            "doc_a", "doc_b", "n_inter",
            (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).alias("n_union"),
        )
        .withColumn(
            "jaccard_micro",
            F.expr("div(n_inter * 1000000, n_union)").cast("long"),
        )
        .filter(F.col("jaccard_micro") >= SIMJOIN_THRESH_MICRO)
        .select("doc_a", "doc_b", "n_inter", "n_union", "jaccard_micro")
    )
    return verified, sets.select("doc_id", "sz")


def q_simjoin_allpairs(spark, sf_dir):
    """EXACT set-similarity join by prefix filtering (AllPairs,
    Bayardo 2007) — the recall-LOSSLESS alternative to MinHash/LSH
    candidate generation: order each doc's distinct 3-token shingles
    by global rarity (df asc, gram asc) and index only the first
    p = |r| - ceil(t*|r|) + 1 of them. Correctness of the prefix:
    Jaccard(r,s) >= t forces overlap >= t/(1+t)*(|r|+|s|) >= t*|r|
    (using |s| >= t*|r|), i.e. >= ceil(t*|r|) shared shingles, and a
    pair sharing that many cannot avoid the first
    |r| - ceil(t*|r|) + 1 positions of either ordering — so every
    qualifying pair collides on at least one indexed gram, BY
    CONSTRUCTION, with no probabilistic recall knob. ceil(t*|r|) is
    computed as exact integer (4*|r| + 9) div 10.

    COLLAPSE-FIRST: exact copies are prefix filtering's worst case —
    every copy group of size k puts k members in every one of its
    prefix-gram groups, and the probe measured the naive form at
    464 s vs 12 s on a 20x-duplicated corpus (PLANS.md). So the
    operator collapses identical texts (md5 group -> one
    representative), runs AllPairs on DISTINCT texts only, then
    expands pairs relationally: within a copy group every pair is
    (sz, sz, 1e6) by definition; across groups the representative
    pair fans out members_a x members_b. Output identical to the
    naive semantics — the oracle is the exhaustive pair join over
    the UNCOLLAPSED corpus, so both the prefix filter's recall and
    the collapse-expand algebra are hash-proven. The gated corpus
    unions a re-crawl fixture (every 7th doc under a shifted id, the
    q_dedup_exact trick) so the collapse path is non-degenerate.

    Plan at 100 TB: rarity ordering keeps prefix collisions on RARE
    grams; candidate generation shuffles only prefix rows of
    DISTINCT texts; verification touches candidate pairs only; the
    expansion joins are output-sized. The per-doc prefix window is
    bounded by one doc's shingle count, never the corpus."""
    base = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = base.unionByName(
        base.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text"
        )
    )
    keyed_ids = corpus.select("doc_id", F.md5("text").alias("m"))
    reps = keyed_ids.groupBy("m").agg(F.min("doc_id").alias("rep_id"))
    # (doc_id, m, rep_id) — id-sized; localCheckpoint (the k-core
    # lineage discipline): six downstream branches consume the
    # collapse mapping, and truncation keeps each from re-running the
    # md5 groupBy+join shuffles end-to-end
    rep_map = keyed_ids.join(reps, "m").localCheckpoint()
    rep_docs = corpus.join(
        F.broadcast(
            rep_map.filter(F.col("doc_id") == F.col("rep_id"))
            .select("doc_id")
        ),
        "doc_id",
        "left_semi",
    ).select("doc_id", F.split("text", " ").alias("t"))
    core_pairs, sizes = _allpairs_core(rep_docs)
    # (m, doc_id, rep_id, sz) for groups whose rep has shingles —
    # id-sized; checkpointed so same/cross do not re-run the gram
    # pipeline behind ``sizes``
    members = rep_map.join(
        sizes.select(F.col("doc_id").alias("rep_id"), "sz"), "rep_id"
    ).localCheckpoint()
    # same-text pairs: every pair inside a copy group is (sz, sz, 1e6)
    same = (
        members.select("m", F.col("doc_id").alias("doc_a"), "sz")
        .join(members.select("m", F.col("doc_id").alias("doc_b")), "m")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.col("sz").alias("n_inter"), F.col("sz").alias("n_union"),
            F.lit(1_000_000).cast("long").alias("jaccard_micro"),
        )
    )
    # cross-text pairs: expand each qualifying representative pair
    cross = (
        core_pairs.join(
            members.select(
                F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("ma")
            ),
            "doc_a",
        )
        .join(
            members.select(
                F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("mb")
            ),
            "doc_b",
        )
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            "n_inter", "n_union", "jaccard_micro",
        )
    )
    return same.unionByName(cross)


# oracle = the exhaustive statement of the semantics (every pair of
# the UNCOLLAPSED corpus), which the collapse-expand prefix-filtered
# plan must match EXACTLY — recall losslessness AND the expansion
# algebra are thereby hash-proven, not argued.
ORACLE_SIMJOIN = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000000 AS doc_id, text FROM documents
  WHERE doc_id % 7 = 0
),
toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM corpus
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - {SIMJOIN_N - 1}),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
  FROM toks WHERE len(t) >= {SIMJOIN_N}
),
sets AS (
  SELECT doc_id, list(DISTINCT g ORDER BY g) AS s,
         CAST(count(DISTINCT g) AS BIGINT) AS sz
  FROM sh GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_inter,
       CAST(a.sz + b.sz - len(list_intersect(a.s, b.s)) AS BIGINT) AS n_union,
       CAST(len(list_intersect(a.s, b.s)) * 1000000
            // (a.sz + b.sz - len(list_intersect(a.s, b.s))) AS BIGINT)
         AS jaccard_micro
FROM sets a JOIN sets b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) * 1000000
      // (a.sz + b.sz - len(list_intersect(a.s, b.s)))
      >= {SIMJOIN_THRESH_MICRO}
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash_signatures,
    # alias: MinHash has one signature kernel; the name stays declared
    # and gated
    "minhash_signatures_vec": q_minhash_signatures,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_embedding": q_dedup_embedding,
    "dedup_exact_substr": q_dedup_exact_substr,
    "dedup_exact_substr_cut": q_dedup_exact_substr_cut,
    "dedup_segments": q_dedup_segments,
    "dedup_clusters": q_dedup_clusters,
    "simjoin_allpairs": q_simjoin_allpairs,
}

ORACLES = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "minhash_signatures": ORACLE_MINHASH_SIGS,
    "minhash_signatures_vec": ORACLE_MINHASH_SIGS,
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
    "dedup_ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "dedup_embedding": ORACLE_DEDUP_EMBEDDING,
    "dedup_exact_substr": _substr_oracle(),
    "dedup_exact_substr_cut": _substr_cut_oracle(),
    "dedup_segments": ORACLE_DEDUP_SEGMENTS,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "simjoin_allpairs": ORACLE_SIMJOIN,
}


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware canonical selection over the near-dup clusters —
    the representative-picking step real curation pipelines run after
    clustering (RefinedWeb/FineWeb keep ONE member per near-dup
    cluster, and the one worth keeping is the highest-quality copy,
    not the smallest id): per cluster, keeper = max by
    (quality_micro desc, doc_id asc), where quality_micro is the
    already-gated heuristic score from ``quality_scores``
    (functions/text.py). Non-degenerate on the natural corpus at
    sf0.01: 13 of 23 clusters pick a DIFFERENT keeper than
    ``dedup_clusters``'s min-doc_id rule, and the quality score
    varies inside every cluster (PLANS.md r9).

    Plan at 100 TB: the cluster relation is pair-verified-LSH-sized
    (tiny next to the corpus); the quality join is per-doc scalar
    expressions pushed to the scan; the keeper window partitions on
    cluster_id — bounded groups by construction. The cluster map is a
    build-once dedup INDEX (the same artifact stance as
    ``_ivf_assigned`` / ``_pq_train``), so it is memoized per
    (session, corpus): without the memo every call re-runs
    LSH + verify + the CC fixpoint — measured at sf0.1 as an 8.1 s
    best-of-3 bench row; with it the build runs once per corpus and
    repeat calls are 0.7-0.8 s keeper probes (PLANS.md r9)."""
    from ..functions import text as tx
    from ..session import input_key, plan_memo

    def build():
        cl = (
            q_dedup_clusters(spark, sf_dir)
            .select("doc_id", "cluster_id", "cluster_size")
            .persist()
        )
        cl.count()  # materialize before the fan-out into quality join
        return cl

    clusters = plan_memo(
        spark,
        (
            "dedup_clusters",
            *input_key(os.path.join(sf_dir, "documents.parquet")),
        ),
        build,
    )
    quality = _docs(spark, sf_dir).select(
        "doc_id", tx.quality_score_micro(F.col("text")).alias("quality_micro")
    )
    j = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_micro"), F.asc("doc_id")
    )
    return j.select(
        "doc_id", "cluster_id", "cluster_size", "quality_micro",
        (F.row_number().over(w) == 1).alias("is_keeper"),
    )


def _keep_best_oracle() -> str:
    from ..functions import text as tx

    return f"""
SELECT c.doc_id, c.cluster_id, c.cluster_size, q.quality_micro,
       (row_number() OVER (
            PARTITION BY c.cluster_id
            ORDER BY q.quality_micro DESC, c.doc_id ASC) = 1) AS is_keeper
FROM ({ORACLE_DEDUP_CLUSTERS}) c
JOIN (SELECT doc_id, {tx.sql_quality_score_micro('text')} AS quality_micro
      FROM documents) q
  ON c.doc_id = q.doc_id
"""


QUERIES["dedup_keep_best"] = q_dedup_keep_best
ORACLES["dedup_keep_best"] = _keep_best_oracle()
