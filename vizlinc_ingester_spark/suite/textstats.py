"""Text-analysis queries over ``documents`` (training-data pipeline
track): language ID, quality scoring, token counting, fingerprinting.
All JVM-side Column logic; at 100 TB these are embarrassingly
parallel scan-only passes (no shuffle at all).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as tx


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one small parquet file -> 1 input split; spread scan-heavy
    # column work across cores (probe-gated — no-op on wide scans,
    # i.e. always at real scale; session.read_spread)
    from ..session import read_spread

    return read_spread(
        spark, os.path.join(sf_dir, "documents.parquet"), "doc_id"
    )


def q_lang_id(spark, sf_dir):
    """Stopword-profile language ID vs the declared lang column.
    Tokenize once, project per-language hit counts, then pick — each
    stage references attributes so nothing re-evaluates (the naive
    single-expression form re-splits the text per language)."""
    d = _docs(spark, sf_dir)
    toked = d.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        tx.tokens(F.col("text")).alias("_toks"),
    )
    langs = sorted(tx.STOPWORDS)
    hit_cols = toked.select(
        "doc_id",
        "declared_lang",
        *[
            tx.stopword_hits(F.col("_toks"), lang).alias(f"_h_{lang}")
            for lang in langs
        ],
    )
    pick = tx.lang_id_from_hits({lang: F.col(f"_h_{lang}") for lang in langs})
    return hit_cols.select(
        "doc_id", "declared_lang", pick.alias("predicted_lang")
    )


ORACLE_LANG_ID = f"""
SELECT doc_id, lang AS declared_lang, {tx.sql_lang_id('text')} AS predicted_lang
FROM documents
"""


def q_quality_scores(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        tx.quality_score_micro(F.col("text")).alias("quality_micro"),
        tx.whitespace_token_count(F.col("text")).cast("long").alias("ws_tokens"),
        tx.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
    )


ORACLE_QUALITY = f"""
SELECT doc_id,
       {tx.sql_quality_score_micro('text')} AS quality_micro,
       CAST({tx.sql_whitespace_token_count('text')} AS BIGINT) AS ws_tokens,
       CAST({tx.sql_bpe_ish_token_count('text')} AS BIGINT) AS bpe_tokens
FROM documents
"""


def q_fingerprint(spark, sf_dir):
    """Order-sensitive rolling-hash fingerprint + exact content hash."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        tx.fingerprint(F.col("text")).alias("fp"),
        F.md5(F.col("text")).alias("content_md5"),
    )


ORACLE_FINGERPRINT = f"""
SELECT doc_id, {tx.sql_fingerprint('text')} AS fp, md5(text) AS content_md5
FROM documents
"""


def q_corpus_lang_profile(spark, sf_dir):
    """Rollup: documents + token volume per (source, declared lang)."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tx.whitespace_token_count(F.col("text")).cast("long")).alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
        )
        .orderBy("source", "lang")
    )


ORACLE_CORPUS_PROFILE = f"""
SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST({tx.sql_whitespace_token_count('text')} AS BIGINT)) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM documents GROUP BY source, lang ORDER BY source, lang
"""


def q_extract_text_formats(spark, sf_dir):
    """S2 under the hash gate: render each document's text into a
    container format chosen by doc_id % 17 (plain UTF-8 bytes, an HTML
    page with head/style/comment chrome and escaped entities, a PDF —
    FlateDecode-compressed content stream for half the PDF docs,
    uncompressed for the other half — a real zipped .docx with
    word/document.xml, a real zipped .odt with content.xml, an RTF
    document group, and the three legacy binary Office formats in
    real OLE2/CFB containers: .doc with a Word97 piece table, .xls
    with a BIFF8 SST + LABELSST cell, .ppt with a TextCharsAtom
    record tree, and the modern zip pair .xlsx with a sharedStrings
    table + referencing cell and .pptx with an <a:t> slide run, plus
    the r11 Tika-long-tail pair: .epub as a real zip with
    container.xml -> OPF manifest/spine -> an XHTML chapter, and
    Outlook .msg as a real CFB container with the UTF-16LE body
    property stream, and .eml as a single-part RFC-5322 message, and
    the r11-continuation trio: .ics as an RFC-5545 VEVENT with an
    escaped+folded DESCRIPTION, .vcf as an RFC-6350 vCard NOTE under
    the same line grammar, and .mbox as an RFC-4155 mailbox with
    mboxrd From-quoting — all three exact round-trips, no whitespace
    collapse), then send the rendered ``(path, content)`` rows through
    the real front door, ``extract_text_auto``, which routes each row
    by extension. The oracle is the identity (modulo whitespace
    collapse for the markup formats) — a hash match proves every
    encode->extract round-trip is exact, i.e. the extractors actually
    invert the formats (the reference's Tika front door,
    src/TextExtractor.groovy:12-28: "Microsoft Office files, PDF,
    plaintext, XML and many other formats")."""
    from ..io import sources as _src
    from ..session import read_table, ship_package

    ship_package(spark)
    d = read_table(spark, os.path.join(sf_dir, "documents.parquet"))
    esc_html = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"), F.lit("&lt;"),
        ),
        F.lit(">"), F.lit("&gt;"),
    )
    fmt = F.element_at(
        F.array(
            F.lit("txt"), F.lit("html"), F.lit("pdf"),
            F.lit("docx"), F.lit("odt"), F.lit("rtf"), F.lit("doc"),
            F.lit("xls"), F.lit("ppt"), F.lit("xlsx"), F.lit("pptx"),
            F.lit("epub"), F.lit("msg"), F.lit("eml"),
            F.lit("ics"), F.lit("vcf"), F.lit("mbox"),
        ),
        (F.col("doc_id") % 17 + 1).cast("int"),
    )
    html_doc = F.concat(
        F.lit('<html><head><style>p{x:1}</style><script>if(1>0){}'
              '</script></head><body><!-- c --><p id="d">'),
        esc_html,
        F.lit("</p></body></html>"),
    )
    # Layout: one parquet scan -> one mapInPandas render pass -> the
    # one-projection extract_text_auto (one ArrowEvalPython node). The
    # three JVM formats (txt/html/rtf) render as a JVM CASE chain; the
    # 14 container formats render in the single mapInPandas pass, NOT
    # as a when-chain over the render_<fmt> pandas UDFs, which Spark
    # would hoist out of the conditional and run on every row.
    jvm_content = (
        F.when(fmt == "txt", F.encode(F.col("text"), "UTF-8"))
        .when(fmt == "html", F.encode(html_doc, "UTF-8"))
        .when(fmt == "rtf", F.encode(_src.rtf_render(F.col("text")), "UTF-8"))
    )
    files = d.select(
        F.concat(
            F.lit("mem://corpus/"), F.col("doc_id").cast("string"),
            F.lit("."), fmt,
        ).alias("path"),
        fmt.alias("fmt"), "doc_id", "text", jvm_content.alias("content"),
    )

    def render(f: str, t: str, doc_id: int) -> bytes:
        if f == "pdf":
            # half Flate-compressed (doc_id % 34 == 2), half
            # uncompressed (== 19): one gate proves both branches
            return _src._pdf_bytes_of_text(t, doc_id % 34 == 2)
        return getattr(_src, f"_{f}_bytes_of_text")(t)

    def render_containers(batches):
        for pdf in batches:
            pdf["content"] = [
                render(f, t, int(i))
                if f in _src._CONTAINER_KERNELS and t is not None else c
                for f, t, i, c in zip(
                    pdf["fmt"], pdf["text"], pdf["doc_id"], pdf["content"]
                )
            ]
            yield pdf[["path", "content"]]

    rendered = files.mapInPandas(render_containers, "path string, content binary")
    return _src.extract_text_auto(rendered).select("name", "text")


ORACLE_EXTRACT_TEXT = r"""
SELECT CAST(doc_id AS VARCHAR)
         || '.' || ['txt', 'html', 'pdf', 'docx', 'odt', 'rtf', 'doc', 'xls', 'ppt', 'xlsx', 'pptx', 'epub', 'msg', 'eml', 'ics', 'vcf', 'mbox'][CAST(doc_id % 17 + 1 AS INTEGER)]
         AS name,
       CASE WHEN doc_id % 17 IN (1, 3, 4, 5, 9, 10, 11)
            THEN trim(regexp_replace(text, '\s+', ' ', 'g'))
            ELSE text END AS text
FROM documents
"""

#: punctuation-rich wrapper exercising every PTB rule class under the
#: hash gate (quotes, contractions, brackets, ellipsis, comma/number,
#: currency/percent, sentence-final period)
PTB_PREFIX = '"Dr. Foo isn\'t here," she said (see [1] & {2}); it\'s 1,234.5% done... '
PTB_SUFFIX = " We'll finish for $5, won't we?"


def q_ptb_tokens(spark, sf_dir):
    """C14 at full strength: PTB tokenization (the public
    tokenizer.sed rule pipeline) as a pure-Column regexp chain, run
    over every document wrapped in a punctuation-rich frame so the
    gate exercises quote conversion, contraction splitting, bracket
    normalization, ellipsis and number-comma handling — not just the
    corpus's clean words (reference tokenizes NER training text with
    PTBTokenizer, src/XMLToTSVConverter.groovy:148-159). Scan-stage,
    zero shuffles before the output ordering."""
    from ..functions.text import ptb_tokens

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.posexplode(
            ptb_tokens(
                F.concat(F.lit(PTB_PREFIX), F.col("text"), F.lit(PTB_SUFFIX))
            )
        ).alias("pos", "token"),
    )
    return toks.select("doc_id", F.col("pos").cast("long").alias("pos"), "token")


def _ptb_oracle() -> str:
    from ..functions.text import sql_ptb_tokens

    pre = PTB_PREFIX.replace("'", "''")
    suf = PTB_SUFFIX.replace("'", "''")
    toks = sql_ptb_tokens(f"('{pre}' || text || '{suf}')")
    return f"""
WITH toked AS (SELECT doc_id, {toks} AS ts FROM documents)
SELECT doc_id,
       CAST(generate_subscripts(ts, 1) - 1 AS BIGINT) AS pos,
       unnest(ts) AS token
FROM toked
"""


QUERIES = {
    "extract_text_formats": q_extract_text_formats,
    "lang_id": q_lang_id,
    "quality_scores": q_quality_scores,
    "doc_fingerprint": q_fingerprint,
    "corpus_lang_profile": q_corpus_lang_profile,
    "ptb_tokens": q_ptb_tokens,
}

ORACLES = {
    "extract_text_formats": ORACLE_EXTRACT_TEXT,
    "lang_id": ORACLE_LANG_ID,
    "quality_scores": ORACLE_QUALITY,
    "doc_fingerprint": ORACLE_FINGERPRINT,
    "corpus_lang_profile": ORACLE_CORPUS_PROFILE,
    "ptb_tokens": _ptb_oracle(),
}


# --- BPE merge learning (operators/bpe.py) --------------------------------

BPE_N_MERGES = 4
BPE_VOCAB_TOP = 2000


def _bpe_vocab(spark, sf_dir) -> DataFrame:
    """Top BPE_VOCAB_TOP pure-alphabetic corpus words with
    frequencies — the training set for merge learning AND the input
    the encoder is applied to."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$") & (F.length("word") >= 2))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(BPE_VOCAB_TOP)
    )


def q_bpe_merges(spark, sf_dir):
    """Tokenizer training under the hash gate: learn BPE_N_MERGES
    byte-pair merges over the corpus vocabulary (top BPE_VOCAB_TOP
    pure-alphabetic words by frequency). The oracle re-derives every
    iteration independently — pair counts as SQL aggregation, the
    greedy merge as a recursive replace-first CTE — so a hash match
    proves the whole iterative algorithm, not just the final state
    (same discipline as sn_pagerank's unrolled-CTE oracle)."""
    from ..operators.bpe import learn_bpe_merges

    merges = learn_bpe_merges(_bpe_vocab(spark, sf_dir), BPE_N_MERGES)
    return spark.createDataFrame(
        merges, "iteration long, pair_left string, pair_right string, pair_count long"
    )


def q_bpe_encode(spark, sf_dir):
    """The ENCODE half of the tokenizer (learn is q_bpe_merges): apply
    the learned merges in order to the vocabulary and emit the
    resulting token (symbol) frequency table — what a trained BPE
    tokenizer produces over a corpus. The greedy left-to-right fold is
    the same higher-order `aggregate` used during learning; per-merge
    cost is O(vocab) with the corpus touched only by the vocabulary
    rollup. The oracle replays learning AND encoding through the same
    recursive-CTE machinery, so a hash match proves the merges
    APPLY identically, not just that they were chosen identically."""
    from ..operators.bpe import _merge_fold, learn_bpe_merges

    vocab = _bpe_vocab(spark, sf_dir)
    merges = learn_bpe_merges(vocab, BPE_N_MERGES)
    seqs = vocab.select(
        "word", "cnt", F.split("word", "").alias("symbols")
    )
    for _, l, r, _cnt in merges:
        seqs = seqs.select("word", "cnt", _merge_fold(l, r).alias("symbols"))
    return (
        seqs.select("cnt", F.explode("symbols").alias("symbol"))
        .filter(F.col("symbol") != "")
        .groupBy("symbol")
        .agg(
            F.sum("cnt").cast("long").alias("token_count"),
            F.count(F.lit(1)).cast("long").alias("n_vocab_words"),
        )
        .orderBy("symbol")
    )


def _bpe_oracle_ctes() -> list[str]:
    """The shared CTE chain (vocab -> seqs_0 -> per-iteration
    sym/pairs/best/merge/seqs) that both the learn and encode oracles
    compose from — structure, not string surgery (r5 ADVICE: the old
    encode oracle stripped the learn oracle's final SELECT with
    rindex('\\n'), which silently corrupts on any reformat)."""
    ctes = [
        """tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents)""",
        f"""vocab AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM tok
  WHERE regexp_matches(word, '^[a-z]+$') AND len(word) >= 2
  GROUP BY word ORDER BY cnt DESC, word ASC LIMIT {BPE_VOCAB_TOP}
)""",
        r"""seqs_0 AS (
  SELECT word, cnt, '~' || regexp_replace(word, '(.)', '\1~', 'g') AS s
  FROM vocab
)""",
        # position bound derived from the data (longest vocab word),
        # not a fixed literal — a silent-truncation hazard otherwise
        """idx AS (SELECT unnest(range((SELECT coalesce(max(len(word)), 0) + 2 FROM vocab))) AS i)""",
    ]
    for k in range(1, BPE_N_MERGES + 1):
        p = k - 1
        ctes.append(f"""sym_{k} AS (
  SELECT cnt, arr[i] AS l, arr[i+1] AS r
  FROM (SELECT cnt, string_split(s, '~') AS arr FROM seqs_{p}) t
  JOIN idx ON i BETWEEN 2 AND len(arr) - 2
)""")
        ctes.append(f"""pairs_{k} AS (
  SELECT l, r, CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM sym_{k} GROUP BY l, r
)""")
        ctes.append(f"""best_{k} AS (
  SELECT l, r, pair_count FROM pairs_{k}
  ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1
)""")
        ctes.append(f"""merge_{k} AS (
  SELECT word, cnt, s FROM seqs_{p}
  UNION ALL
  SELECT m.word, m.cnt,
         substr(m.s, 1, strpos(m.s, '~' || b.l || '~' || b.r || '~') - 1)
           || '~' || b.l || b.r || '~'
           || substr(m.s, strpos(m.s, '~' || b.l || '~' || b.r || '~')
                          + len('~' || b.l || '~' || b.r || '~'))
  FROM merge_{k} m, best_{k} b
  WHERE contains(m.s, '~' || b.l || '~' || b.r || '~')
)""")
        ctes.append(f"""seqs_{k} AS (
  SELECT word, cnt, s FROM merge_{k} m, best_{k} b
  WHERE NOT contains(s, '~' || b.l || '~' || b.r || '~')
)""")
    return ctes


def _bpe_oracle() -> str:
    finals = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS iteration, l AS pair_left,"
        f" r AS pair_right, pair_count FROM best_{k}"
        for k in range(1, BPE_N_MERGES + 1)
    )
    return "WITH RECURSIVE " + ",\n".join(_bpe_oracle_ctes()) + "\n" + finals


def _bpe_encode_oracle() -> str:
    """Replays merge learning through the same CTE chain as
    ``_bpe_oracle`` (shared via ``_bpe_oracle_ctes``) and then reads
    the FINAL symbol sequences (seqs_{N}) as the encoded tokens — the
    encode half shares the learn half's machinery by construction."""
    final = f"""
SELECT sym AS symbol,
       CAST(sum(cnt) AS BIGINT) AS token_count,
       CAST(count(*) AS BIGINT) AS n_vocab_words
FROM (SELECT cnt, unnest(string_split(s, '~')) AS sym FROM seqs_{BPE_N_MERGES}) t
WHERE sym <> ''
GROUP BY sym
ORDER BY symbol
"""
    return "WITH RECURSIVE " + ",\n".join(_bpe_oracle_ctes()) + final


QUERIES["bpe_merges"] = q_bpe_merges
QUERIES["bpe_encode"] = q_bpe_encode
ORACLES["bpe_merges"] = _bpe_oracle()
ORACLES["bpe_encode"] = _bpe_encode_oracle()


def q_bpe_fertility(spark, sf_dir):
    """Tokenizer FERTILITY by language (round 10; the r9 parked
    idea): tokens-per-word and chars-per-token of the trained BPE
    tokenizer, per corpus language — the number multilingual
    pretraining teams watch (a tokenizer trained on English-heavy
    data over-segments other languages, inflating their effective
    cost per word; fertility is the standard metric, e.g. XLM-R's
    tokenizer analyses). Reuses the GATED learn+encode lineage
    verbatim: the same merges, the same greedy fold — this query is
    the rollup a user computes from the tokenizer artifact, measured
    over each language's occurrences of the training vocabulary
    (out-of-vocab words are excluded BY DESIGN: fertility compares
    segmentation of the words the tokenizer knows).

    Plan at 100 TB: the encode runs over the BPE_VOCAB_TOP-bounded
    vocabulary (never the corpus); the corpus contributes one
    tokenize + (lang, word) count rollup (map-side combinable); the
    occurrence⋈encoding join keys on the vocab-bounded word (AQE
    broadcasts it); the final group space is the language set. All
    ratios integer-micro with zero guards on both engines."""
    return fertility_finalize(
        fertility_counters(
            _docs(spark, sf_dir), _fertility_enc(spark, sf_dir)
        )
    )


def _fertility_enc(spark, sf_dir) -> DataFrame:
    """The encoded-vocabulary artifact (word, n_sym, wlen): trained
    BPE merges applied to the vocab. The merge list is a TRAINED
    TOKENIZER artifact (learn-once / apply-many, the PQ-codebook /
    NER-model memo stance); the training queries themselves
    (bpe_merges / bpe_encode) stay un-memoized — they ARE the gated
    training runs. The encoded relation itself is ALSO memoized +
    persisted per (session, vocab plan) through session.plan_memo:
    before this, every streaming/batch fertility invocation persisted
    a fresh copy and never released it — exactly the block-manager
    leak pattern the registry exists to prevent (r10 ADVICE)."""
    from ..operators.bpe import _merge_fold, learn_bpe_merges
    from ..session import plan_key, plan_memo

    vocab = _bpe_vocab(spark, sf_dir)

    def build():
        merges = plan_memo(
            spark,
            plan_key(vocab, "bpe_merges", BPE_N_MERGES),
            lambda: learn_bpe_merges(vocab, BPE_N_MERGES),
        )
        seqs = vocab.select("word", F.split("word", "").alias("symbols"))
        for _, l, r, _cnt in merges:
            seqs = seqs.select("word", _merge_fold(l, r).alias("symbols"))
        enc = seqs.select(
            "word",
            F.size(F.filter("symbols", lambda s: s != ""))
            .cast("long")
            .alias("n_sym"),
            F.length("word").cast("long").alias("wlen"),
        ).persist()
        enc.count()  # vocab-bounded; materialized once per session
        return enc

    return plan_memo(
        spark, plan_key(vocab, "fertility_enc", BPE_N_MERGES), build
    )


FERTILITY_COUNTER_COLS = ["n_words", "n_tokens", "n_chars"]


def fertility_counters(docs: DataFrame, enc: DataFrame) -> DataFrame:
    """Per-language ADDITIVE fertility counters over an arbitrary docs
    relation, against a FIXED encoded-vocabulary artifact ``enc``
    (word, n_sym, wlen): each column is a plain sum over word
    occurrences, so counters from disjoint batches merge by
    per-language summation — the streaming at-ingest maintenance
    property (same algebra split as repetition.quality_counters)."""
    occ = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        occ.join(enc, "word")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sym")).cast("long").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("wlen")).cast("long").alias("n_chars"),
        )
    )


def merge_fertility_counters(a: DataFrame, b: DataFrame) -> DataFrame:
    """Counter merge = per-language summation (disjoint-batch algebra)."""
    return (
        a.unionByName(b)
        .groupBy("lang")
        .agg(
            *[F.sum(c).cast("long").alias(c) for c in FERTILITY_COUNTER_COLS]
        )
    )


def fertility_finalize(counters: DataFrame) -> DataFrame:
    """Counters -> the report shape (ratios derived at FINALIZE from
    the additive sums, never maintained directly)."""
    return counters.select(
        "lang",
        "n_words",
        "n_tokens",
        "n_chars",
        F.expr(
            "CASE WHEN n_words = 0 THEN 0"
            " ELSE n_tokens * 1000000 div n_words END"
        ).cast("long").alias("fertility_micro"),
        F.expr(
            "CASE WHEN n_tokens = 0 THEN 0"
            " ELSE n_chars * 1000000 div n_tokens END"
        ).cast("long").alias("chars_per_token_micro"),
    ).orderBy("lang")


def _bpe_fertility_oracle() -> str:
    final = f"""
, enc AS (
  SELECT word,
         CAST(len(list_filter(string_split(s, '~'), x -> x <> ''))
           AS BIGINT) AS n_sym,
         CAST(len(word) AS BIGINT) AS wlen
  FROM seqs_{BPE_N_MERGES}
),
occ AS (
  SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
        FROM documents)
  GROUP BY lang, word
)
SELECT o.lang,
       CAST(sum(o.cnt) AS BIGINT) AS n_words,
       CAST(sum(o.cnt * e.n_sym) AS BIGINT) AS n_tokens,
       CAST(sum(o.cnt * e.wlen) AS BIGINT) AS n_chars,
       CAST(CASE WHEN sum(o.cnt) = 0 THEN 0
                 ELSE sum(o.cnt * e.n_sym) * 1000000 // sum(o.cnt) END
         AS BIGINT) AS fertility_micro,
       CAST(CASE WHEN sum(o.cnt * e.n_sym) = 0 THEN 0
                 ELSE sum(o.cnt * e.wlen) * 1000000
                      // sum(o.cnt * e.n_sym) END
         AS BIGINT) AS chars_per_token_micro
FROM occ o JOIN enc e ON o.word = e.word
GROUP BY o.lang
ORDER BY o.lang
"""
    return "WITH RECURSIVE " + ",\n".join(_bpe_oracle_ctes()) + final


QUERIES["bpe_fertility"] = q_bpe_fertility
ORACLES["bpe_fertility"] = _bpe_fertility_oracle()


# --- bigram language-model scoring (LLM-track, round 5) -------------------

def _doc_bigrams(d: "DataFrame") -> "DataFrame":
    """documents(text, ...) -> (doc_id, w1, w2) adjacent-bigram
    positions under the shared tokenizer — the ONE construction the
    add-one LM, the KN LM, the streaming KN store and PMI all count
    (it was four verbatim copies; a tokenizer/boundary change now has
    a single home). Scan-stage array slices, zero shuffles."""
    toked = d.select("doc_id", tx.tokens(F.col("text")).alias("_t")).filter(
        F.size("_t") >= 2
    )
    bg = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size("_t") - 1),
            lambda i: F.struct(
                F.element_at("_t", i).alias("w1"),
                F.element_at("_t", i + 1).alias("w2"),
            ),
        )
    )
    return toked.select("doc_id", bg.alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )


def q_lm_doc_scores(spark, sf_dir):
    """Count-based bigram language-model scoring — the KenLM-style
    quality signal of a pretraining pipeline (docs whose bigrams are
    improbable under the corpus LM are OCR junk / boilerplate / wrong
    language). Add-one smoothing: P(w2|w1) = (c2+1)/(c1+V).

    Cross-engine float discipline: each bigram term is floored to
    integer micro-nats IMMEDIATELY (`floor(1e6 * ln((c2+1)/(c1+V)))`
    with integer adds before a single cast — identical doubles, same
    ln input), then summed as exact int64 — so the per-doc total is
    order-independent and hash-stable (same discipline as tfidf).

    Plan: the corpus is tokenized once; bigram/unigram counts are two
    map-side-combinable rollups; V is a 1-row broadcast; the model
    joins back to the per-doc bigram stream on (w1, w2) — at 100 TB
    that join shuffles on the bigram key (model >> broadcast), and
    every stage before it is scan-local."""
    d = _docs(spark, sf_dir)
    toked = d.select("doc_id", tx.tokens(F.col("text")).alias("_t")).filter(
        F.size("_t") >= 2
    )
    big = _doc_bigrams(d)

    def build_model():
        # the LM itself is a build-once artifact (train once, score
        # many) — persisted + memoized per (session, input plan), the
        # same semantics as the PQ codebook / IVF index / NER model.
        # Without the memo the counts sub-DAG (a second tokenize +
        # explode over the whole corpus) re-runs on every call.
        uni = toked.select(F.explode("_t").alias("w"))
        c2 = big.groupBy("w1", "w2").agg(
            F.count(F.lit(1)).cast("long").alias("c2")
        )
        c1 = uni.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c1"))
        v_row = uni.agg(F.countDistinct("w").cast("long").alias("v"))
        m = (
            c2.join(c1, c2["w1"] == c1["w"])
            .crossJoin(F.broadcast(v_row))
            .select(
                "w1", "w2",
                F.floor(
                    F.log(
                        (F.col("c2") + 1).cast("double")
                        / (F.col("c1") + F.col("v")).cast("double")
                    )
                    * 1000000.0
                ).cast("long").alias("term_micro"),
            )
            .persist()
        )
        m.count()
        return m

    from ..session import plan_key, plan_memo

    model = plan_memo(spark, plan_key(toked, "bigram_lm"), build_model)
    return (
        big.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (-F.sum("term_micro")).cast("long").alias("nll_micro_sum"),
        )
        .select(
            "doc_id", "n_bigrams", "nll_micro_sum",
            F.expr("nll_micro_sum div n_bigrams").alias("avg_nll_micro"),
        )
    )


_SQL_TOKS = tx.sql_tokens("text")

ORACLE_LM_DOC_SCORES = f"""
WITH toked AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
  WHERE len({_SQL_TOKS}) >= 2
),
idx AS (SELECT unnest(range(1, (SELECT coalesce(max(len(t)), 2) FROM toked))) AS i),
big AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM toked JOIN idx ON i <= len(t) - 1
),
uni AS (SELECT unnest(t) AS w FROM toked),
c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY w1, w2),
c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY w),
vt AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM uni),
model AS (
  SELECT w1, w2,
         CAST(floor(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS term_micro
  FROM c2 JOIN c1 ON w1 = w CROSS JOIN vt
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(-sum(term_micro) AS BIGINT) AS nll_micro_sum,
       CAST(-sum(term_micro) AS BIGINT) // CAST(count(*) AS BIGINT)
         AS avg_nll_micro
FROM big JOIN model USING (w1, w2)
GROUP BY doc_id
"""

QUERIES["lm_doc_scores"] = q_lm_doc_scores
ORACLES["lm_doc_scores"] = ORACLE_LM_DOC_SCORES


# --- Kneser-Ney smoothed LM scoring (round 11) ------------------------------

def bigram_counts(d: "DataFrame") -> "DataFrame":
    """documents(text, ...) -> (w1, w2, c2) adjacent-bigram counts
    under the shared tokenizer — the additive sufficient statistic of
    the bigram LM family (disjoint doc sets fold by per-key sum)."""
    return (
        _doc_bigrams(d)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )


def kn_rollups(c2: "DataFrame"):
    """c2(w1, w2, c2) -> (h, cont): the KN sufficient-statistic
    rollups — h(w1, c1, n1fw) history totals + distinct
    continuations, cont(w2, n1bw) distinct histories. ONE home for
    the count definitions shared by the self-scoring model
    (kn_model_from_counts) and the held-out model
    (q_lm_heldout_kn)."""
    h = c2.groupBy("w1").agg(
        F.sum("c2").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1fw"),
    )
    cont = c2.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1bw")
    )
    return h, cont


def kn_model_from_counts(c2: "DataFrame") -> "DataFrame":
    """c2(w1, w2, c2) bigram counts -> the interpolated-KN model
    (w1, w2, term_micro). The counts table is the model's COMPLETE
    sufficient statistic: history counts, forward/backward
    continuation counts and the bigram-type total are all rollups of
    it — which is what makes the model streamable by maintaining the
    additive counts store alone (q_streaming_lm_kn)."""
    h, cont = kn_rollups(c2)
    b_row = c2.agg(
        F.count(F.lit(1)).cast("long").alias("b"),
        F.sum("c2").cast("long").alias("t"),
    )
    num = (
        F.greatest(F.lit(0).cast("long"), 4 * F.col("c2") - 3)
        * F.col("b")
        + 3 * F.col("n1fw") * F.col("n1bw")
    )
    den = 4 * F.col("c1") * F.col("b")
    return (
        c2.join(h, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(b_row))
        .select(
            "w1", "w2",
            F.when(
                _kn_fits_int64(F.col("t"), F.col("b")),
                F.floor(
                    F.log(num.cast("double") / den.cast("double"))
                    * 1000000.0
                ).cast("long"),
            )
            .otherwise(F.raise_error(_KN_OVERFLOW_MSG).cast("long"))
            .alias("term_micro"),
        )
    )


#: Every int64 product in the KN rationals (both the self-scoring and
#: the held-out form) is bounded by a small multiple of T*B — c2 and
#: c1 are at most T (total bigram tokens), n1fw <= c1, n1bw <= B,
#: V <= B — with worst case num <= 12*T*B + 3*T (held-out). The guard
#: 15*T*B < 2^63 therefore covers all of them; past it, fail LOUDLY on
#: both engines (the ADVICE-r11 case: Spark would wrap silently while
#: DuckDB raised — divergent failure modes) instead of producing a
#: wrapped score. A true fix at that scale is rescaling the rational
#: before the ln, not a double fallback.
_KN_OVERFLOW_MSG = (
    "kn_int64_overflow: bigram_types*bigram_tokens too large for the "
    "exact-rational KN form (needs 15*T*B < 2^63)"
)


def _kn_fits_int64(t, b):
    return t.cast("double") * b.cast("double") * 15.0 < 9.0e18


#: the same guard rendered for the DuckDB oracles: an impossible
#: VARCHAR->BIGINT cast fails the oracle loudly (the Viterbi
#: path-capacity discipline) on the same condition Spark raises on.
_SQL_KN_GUARD = (
    "CASE WHEN CAST(t AS DOUBLE) * CAST(b AS DOUBLE) * 15.0 >= 9.0e18 "
    "THEN CAST('kn_int64_overflow' AS BIGINT) ELSE {term} END"
)


def q_lm_doc_scores_kn(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring — the smoothing KenLM
    actually ships (Heafield 2011; production corpus-quality
    pipelines like CCNet score with KN-smoothed LMs, not add-one).
    Absolute discount d = 3/4:

        P(w2|w1) = max(c2 - d, 0)/c1  +  d*N1fw(w1)/c1 * Pcont(w2)
        Pcont(w2) = N1bw(w2) / B

    where c1 is w1's HISTORY count (sum of its bigram counts),
    N1fw(w1) = distinct continuations of w1, N1bw(w2) = distinct
    histories of w2, B = distinct bigram types. With d = 3/4 the
    probability is the exact integer rational

        [max(4*c2 - 3, 0)*B + 3*N1fw(w1)*N1bw(w2)] / (4*c1*B)

    so the cross-engine discipline is ONE ln over a ratio of two
    exact int64s (identical literal sequence both engines), floored
    to micro-nats, then summed as int64 — order-independent and
    hash-stable (the lm_doc_scores/tfidf discipline). The corpus
    scores itself (train == score, same stance as lm_doc_scores), so
    every scored bigram has c2 >= 1 and the numerator is >= B > 0.

    Plan at 100 TB: bigram counts are one map-side-combinable rollup;
    c1/N1fw and N1bw are two vocabulary-keyed rollups OF THE COUNTS
    TABLE (not the corpus); B is a 1-row broadcast; scoring joins the
    per-doc bigram stream to the model on the bigram key — shuffle on
    (w1, w2), everything upstream scan-local. The int64 cross-product
    max(4*c2-3,0)*B caps at ~4*T^2 (T = corpus bigram tokens): fine
    to ~10^9 bigram types; past that BOTH engines fail loudly on the
    shared 15*T*B < 2^63 guard (ADVICE r11 — Spark previously wrapped
    silently where DuckDB raised) rather than score wrong. Scaling
    beyond the guard means rescaling the rational before the ln, a
    deliberate follow-up, not a silent double fallback."""
    d = _docs(spark, sf_dir)
    big = _doc_bigrams(d)

    def build_model():
        m = kn_model_from_counts(bigram_counts(d)).persist()
        m.count()
        return m

    from ..session import plan_key, plan_memo

    model = plan_memo(spark, plan_key(big, "bigram_lm_kn"), build_model)
    return (
        big.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (-F.sum("term_micro")).cast("long").alias("nll_micro_sum"),
        )
        .select(
            "doc_id", "n_bigrams", "nll_micro_sum",
            F.expr("nll_micro_sum div n_bigrams").alias("avg_nll_micro"),
        )
    )


#: the KN model CTE chain (corpus -> bigram counts -> model), shared
#: verbatim by the per-doc scoring oracle and the streaming-model gate
KN_MODEL_CTES = f"""toked AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
  WHERE len({_SQL_TOKS}) >= 2
),
idx AS (SELECT unnest(range(1, (SELECT coalesce(max(len(t)), 2) FROM toked))) AS i),
big AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM toked JOIN idx ON i <= len(t) - 1
),
c2t AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY w1, w2),
h AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1fw
  FROM c2t GROUP BY w1
),
cont AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1bw FROM c2t GROUP BY w2
),
bt AS (SELECT CAST(count(*) AS BIGINT) AS b,
              CAST(sum(c2) AS BIGINT) AS t FROM c2t),
model AS (
  SELECT c2t.w1, c2t.w2,
         {_SQL_KN_GUARD.format(term='''
         CAST(floor(ln(
             CAST(greatest(CAST(0 AS BIGINT), 4 * c2 - 3) * b
                  + 3 * n1fw * n1bw AS DOUBLE)
             / CAST(4 * c1 * b AS DOUBLE)) * 1000000.0) AS BIGINT)''')}
           AS term_micro
  FROM c2t JOIN h USING (w1) JOIN cont USING (w2) CROSS JOIN bt
)"""

ORACLE_LM_DOC_SCORES_KN = f"""
WITH {KN_MODEL_CTES}
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(-sum(term_micro) AS BIGINT) AS nll_micro_sum,
       CAST(-sum(term_micro) AS BIGINT) // CAST(count(*) AS BIGINT)
         AS avg_nll_micro
FROM big JOIN model USING (w1, w2)
GROUP BY doc_id
"""

QUERIES["lm_doc_scores_kn"] = q_lm_doc_scores_kn
ORACLES["lm_doc_scores_kn"] = ORACLE_LM_DOC_SCORES_KN


# --- held-out KN scoring (r11 continuation) ---------------------------------

def q_lm_heldout_kn(spark, sf_dir):
    """Held-out Kneser-Ney scoring — the PRODUCTION shape of LM
    quality filtering (CCNet trains the LM on a reference corpus and
    scores NEW documents): train on the even-doc half, score every
    bigram position of the odd-doc half, including positions the
    train model never saw — the case KN smoothing exists for. To
    keep unseen events scoreable AND exactly rational, the
    continuation distribution takes add-one smoothing over the train
    vocabulary (V = distinct train continuations... the bigram-type
    axis): with d = 3/4,

      seen history:  P = [max(4*c2-3,0)*(B+V) + 3*N1fw(w1)*(N1bw(w2)+1)]
                         / (4*c1*(B+V))
      unseen w1:     P = (N1bw(w2)+1) / (B+V)

    — both exact int64 ratios (one ln per term, micro-floored,
    order-free int64 sum; N1bw defaults to 0 for unseen w2, so every
    held-out position scores). Plan: model tables are rollups of the
    train bigram counts (vocab-bounded); scoring LEFT-joins the
    held-out bigram stream on w1 then (w1, w2) — two vocabulary-keyed
    joins, corpus never re-read."""
    d = _docs(spark, sf_dir)
    held_big = _doc_bigrams(d.filter(F.col("doc_id") % 2 == 1))

    def build_model():
        c2 = bigram_counts(d.filter(F.col("doc_id") % 2 == 0))
        h, cont = kn_rollups(c2)
        stats = c2.agg(
            F.count(F.lit(1)).cast("long").alias("b"),
            F.countDistinct("w2").cast("long").alias("v"),
            F.sum("c2").cast("long").alias("t"),
        )
        for t in (c2, h, cont, stats):
            t.persist()
            t.count()
        return c2, h, cont, stats

    from ..session import plan_key, plan_memo

    c2, h, cont, stats = plan_memo(
        spark, plan_key(held_big, "kn_heldout_model"), build_model
    )
    j = (
        held_big.join(c2, ["w1", "w2"], "left")
        .join(h, "w1", "left")
        .join(cont.withColumnRenamed("w2", "__w2c"),
              F.col("w2") == F.col("__w2c"), "left")
        .drop("__w2c")
        .crossJoin(F.broadcast(stats))
    )
    n1bw = F.coalesce(F.col("n1bw"), F.lit(0).cast("long"))
    bv = F.col("b") + F.col("v")
    seen_num = (
        F.greatest(F.lit(0).cast("long"), 4 * F.coalesce(F.col("c2"), F.lit(0).cast("long")) - 3) * bv
        + 3 * F.col("n1fw") * (n1bw + 1)
    )
    seen_den = 4 * F.col("c1") * bv
    uns_num = n1bw + 1
    uns_den = bv
    num = F.when(F.col("c1").isNotNull(), seen_num).otherwise(uns_num)
    den = F.when(F.col("c1").isNotNull(), seen_den).otherwise(uns_den)
    term = F.when(
        _kn_fits_int64(F.col("t"), F.col("b")),
        F.floor(
            F.log(num.cast("double") / den.cast("double")) * 1000000.0
        ).cast("long"),
    ).otherwise(F.raise_error(_KN_OVERFLOW_MSG).cast("long"))
    return (
        j.select("doc_id", term.alias("term_micro"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (-F.sum("term_micro")).cast("long").alias("nll_micro_sum"),
        )
        .select(
            "doc_id", "n_bigrams", "nll_micro_sum",
            F.expr("nll_micro_sum div n_bigrams").alias("avg_nll_micro"),
        )
    )


ORACLE_LM_HELDOUT_KN = f"""
WITH toked AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
  WHERE len({_SQL_TOKS}) >= 2
),
idx AS (SELECT unnest(range(1, (SELECT coalesce(max(len(t)), 2) FROM toked))) AS i),
big AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM toked JOIN idx ON i <= len(t) - 1
),
c2t AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
  FROM big WHERE doc_id % 2 = 0 GROUP BY w1, w2
),
h AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1fw
  FROM c2t GROUP BY w1
),
cont AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1bw FROM c2t GROUP BY w2
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS b,
         CAST(count(DISTINCT w2) AS BIGINT) AS v,
         CAST(sum(c2) AS BIGINT) AS t
  FROM c2t
),
scored AS (
  SELECT g.doc_id,
         {_SQL_KN_GUARD.format(term='''
         CAST(floor(ln(
           CAST(CASE WHEN h.c1 IS NOT NULL
                THEN greatest(CAST(0 AS BIGINT),
                              4 * coalesce(c2t.c2, 0) - 3) * (b + v)
                     + 3 * h.n1fw * (coalesce(cont.n1bw, 0) + 1)
                ELSE coalesce(cont.n1bw, 0) + 1 END AS DOUBLE)
           / CAST(CASE WHEN h.c1 IS NOT NULL
                  THEN 4 * h.c1 * (b + v)
                  ELSE b + v END AS DOUBLE)) * 1000000.0) AS BIGINT)''')}
           AS term_micro
  FROM big g
  LEFT JOIN c2t ON g.w1 = c2t.w1 AND g.w2 = c2t.w2
  LEFT JOIN h ON g.w1 = h.w1
  LEFT JOIN cont ON g.w2 = cont.w2
  CROSS JOIN stats
  WHERE g.doc_id % 2 = 1
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(-sum(term_micro) AS BIGINT) AS nll_micro_sum,
       CAST(-sum(term_micro) AS BIGINT) // CAST(count(*) AS BIGINT)
         AS avg_nll_micro
FROM scored
GROUP BY doc_id
"""

QUERIES["lm_heldout_kn"] = q_lm_heldout_kn
ORACLES["lm_heldout_kn"] = ORACLE_LM_HELDOUT_KN


# --- PMI collocation mining (round 8) ---------------------------------------

PMI_MIN_COUNT = 10  # bigrams below this corpus count are PMI noise
PMI_TOPK = 50


def q_pmi_collocations(spark, sf_dir):
    """Pointwise-mutual-information collocation mining (Church &
    Hanks 1990): the phrase-discovery pass of a corpus pipeline —
    top-PMI_TOPK adjacent bigrams by ln(p(w1,w2) / (p(w1) p(w2))),
    restricted to bigrams with corpus count >= PMI_MIN_COUNT (raw
    PMI is maximized by hapax pairs; the count floor is the
    standard fix). p(w1,w2) = c12/B over bigram positions,
    p(w) = c/N over token positions; the score is ONE ln over a
    ratio of exact-integer-backed doubles with the identical literal
    sequence both engines, micro-floored (the tfidf/lm discipline —
    divides scale to any corpus where integer cross-products would
    overflow int64).

    Plan at 100 TB: bigrams are scan-stage array slices (zero
    shuffle until the counts); c12/c1 are map-side-combinable
    rollups; N and B are 1-row broadcast stats; the unigram side
    joins twice on the word key (vocabulary-sized, AQE chooses
    broadcast where it fits); top-k is TakeOrdered with the rank
    window over the K survivors only.

    r14 optimization (guide §2.3 "aggregate before you shuffle",
    §2.4): the old form ran THREE independent corpus tokenize passes
    per action — the bigram explode (c12), the unigram explode (c1)
    and the size aggregate (stats). Every one of those is an exact
    rollup of ONE position stream: each token position i emits
    (w = t[i], nw = t[i+1] or NULL at doc end), so
    c1(w) = sum of pair counts by w (every position contributes
    exactly one row), c12 = the non-NULL pair counts,
    n_tok = sum of all counts, n_big = sum of non-NULL counts. The
    position stream is folded once into the (w, nw) pair-count table
    — bigram-type-bounded (+ vocab rows for the doc-end NULLs),
    never corpus-sized — which is materialized with localCheckpoint
    and feeds everything downstream. 3 corpus passes -> 1; counts
    are exact integers, values unchanged."""
    d = _docs(spark, sf_dir)
    toked = d.select(tx.tokens(F.col("text")).alias("_t")).filter(
        F.size("_t") >= 2
    )
    pairs = toked.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_t")),
                lambda i: F.struct(
                    F.element_at("_t", i).alias("w"),
                    F.when(
                        i < F.size("_t"), F.element_at("_t", i + 1)
                    ).alias("nw"),
                ),
            )
        ).alias("p")
    ).select("p.w", "p.nw")
    cpair = (
        pairs.groupBy("w", "nw")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    c12 = (
        cpair.filter(F.col("nw").isNotNull())
        .select(
            F.col("w").alias("w1"), F.col("nw").alias("w2"),
            F.col("c").alias("c12"),
        )
        .filter(F.col("c12") >= PMI_MIN_COUNT)
    )
    c1 = cpair.groupBy("w").agg(F.sum("c").cast("long").alias("c"))
    stats = cpair.agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.sum(F.when(F.col("nw").isNotNull(), F.col("c")))
        .cast("long")
        .alias("n_big"),
    )
    j = (
        c12.join(c1.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(c1.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(stats))
    )

    def dbl(c: str):
        return F.col(c).cast("double")

    pmi = F.log(
        (dbl("c12") / dbl("n_big"))
        / ((dbl("c1") / dbl("n_tok")) * (dbl("c2") / dbl("n_tok")))
    )
    scored = j.select(
        "w1", "w2", "c12", "c1", "c2",
        F.floor(pmi * 1000000.0).cast("long").alias("pmi_micro"),
    )
    top = scored.orderBy(
        F.desc("pmi_micro"), F.asc("w1"), F.asc("w2")
    ).limit(PMI_TOPK)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("pmi_micro"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


ORACLE_PMI = f"""
WITH toked AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
  WHERE len({_SQL_TOKS}) >= 2
),
idx AS (SELECT unnest(range(1, (SELECT coalesce(max(len(t)), 2) FROM toked))) AS i),
big AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM toked JOIN idx ON i <= len(t) - 1
),
uni AS (SELECT unnest(t) AS w FROM toked),
c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        FROM big GROUP BY w1, w2 HAVING count(*) >= {PMI_MIN_COUNT}),
c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w),
stats AS (
  SELECT CAST(sum(len(t)) AS BIGINT) AS n_tok,
         CAST(sum(len(t) - 1) AS BIGINT) AS n_big
  FROM toked
),
scored AS (
  SELECT w1, w2, c12, a.c AS c1, b.c AS c2,
         CAST(floor(ln((CAST(c12 AS DOUBLE) / CAST(n_big AS DOUBLE))
                       / ((CAST(a.c AS DOUBLE) / CAST(n_tok AS DOUBLE))
                          * (CAST(b.c AS DOUBLE) / CAST(n_tok AS DOUBLE))))
                    * 1000000.0) AS BIGINT) AS pmi_micro
  FROM c12
  JOIN c1 a ON c12.w1 = a.w
  JOIN c1 b ON c12.w2 = b.w
  CROSS JOIN stats
)
SELECT w1, w2, c12, c1, c2, pmi_micro,
       CAST(row_number() OVER (
         ORDER BY pmi_micro DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {PMI_TOPK}
"""

QUERIES["pmi_collocations"] = q_pmi_collocations
ORACLES["pmi_collocations"] = ORACLE_PMI


# --- learned quality classifier (Naive Bayes, LLM-track round 6) ----------

QC_THRESH_MICRO = 730_000  # heuristic-quality cut that defines the weak label


def q_quality_classifier_nb(spark, sf_dir):
    """Learned document-quality classifier — the fastText-classifier
    stage of CCNet/GPT-3-style pipelines (train a cheap linear model
    on weak labels, score the whole corpus), expressed as multinomial
    Naive Bayes so training is a SINGLE counting pass (no iterations):
    docs with heuristic quality >= QC_THRESH_MICRO on the train split
    (doc_id % 2 == 0) are the positive class; per-token log-likelihood
    ratios with add-one smoothing score the held-out split.

    Float discipline: every model term is floored to integer
    micro-nats immediately (same as lm_doc_scores), so per-doc scores
    are order-independent exact int64 sums and the whole train+apply
    pipeline sits under the cross-engine hash gate — a LEARNED
    classifier with hash-proven training.

    Plan at 100 TB: counting rollups are map-side combinable; the
    weight table is vocabulary-sized (joined on the token key, AQE
    broadcasts it when small); the corpus is scanned once to train
    and once to score. No driver round-trips, no iterations."""
    from ..session import plan_key, plan_memo

    d = _docs(spark, sf_dir)
    toked = d.select(
        "doc_id",
        tx.tokens(F.col("text")).alias("_t"),
        (tx.quality_score_micro(F.col("text")) >= QC_THRESH_MICRO)
        .cast("int").alias("pos"),
    ).filter(F.size("_t") >= 1)
    train = toked.filter(F.col("doc_id") % 2 == 0)

    def build_model():
        # one explode pass over the train split builds the per-token
        # counts; np/nn/v derive FROM those counts (sum(cp), sum(cn),
        # row count — identical values, no second corpus scan); only
        # dp/dn need a doc-level pass (no explode). Persisted +
        # memoized per (session, input plan) like the other learned
        # artifacts (NER tagger, bigram LM, PQ codebook).
        ttok = train.select("pos", F.explode("_t").alias("w"))
        counts = ttok.groupBy("w").agg(
            F.sum("pos").cast("long").alias("cp"),
            F.sum(1 - F.col("pos")).cast("long").alias("cn"),
        ).persist()
        counts.count()
        cs = counts.agg(
            F.sum("cp").cast("long").alias("np"),
            F.sum("cn").cast("long").alias("nn"),
            F.count(F.lit(1)).cast("long").alias("v"),
        )
        ds = train.agg(
            F.sum("pos").cast("long").alias("dp"),
            F.sum(1 - F.col("pos")).cast("long").alias("dn"),
        )
        scal = cs.crossJoin(F.broadcast(ds))

        def lratio(num_p, num_n):
            return (
                F.floor(
                    F.log(num_p.cast("double") / (F.col("np") + F.col("v")).cast("double"))
                    * 1000000.0
                ).cast("long")
                - F.floor(
                    F.log(num_n.cast("double") / (F.col("nn") + F.col("v")).cast("double"))
                    * 1000000.0
                ).cast("long")
            )

        m = counts.crossJoin(F.broadcast(scal)).select(
            "w", lratio(F.col("cp") + 1, F.col("cn") + 1).alias("w_micro")
        ).persist()
        m.count()
        c = scal.select(
            lratio(F.lit(1), F.lit(1)).alias("default_micro"),
            (
                F.floor(
                    F.log(F.col("dp").cast("double") / (F.col("dp") + F.col("dn")).cast("double"))
                    * 1000000.0
                ).cast("long")
                - F.floor(
                    F.log(F.col("dn").cast("double") / (F.col("dp") + F.col("dn")).cast("double"))
                    * 1000000.0
                ).cast("long")
            ).alias("prior_micro"),
        ).persist()
        c.count()
        counts.unpersist()
        return m, c

    model, consts = plan_memo(spark, plan_key(train, "nb_model"), build_model)
    held = toked.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.explode("_t").alias("w")
    )
    return (
        held.join(model, "w", "left")
        .crossJoin(F.broadcast(consts))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (
                F.sum(F.coalesce(F.col("w_micro"), F.col("default_micro")))
                + F.first("prior_micro")
            ).cast("long").alias("score_micro"),
        )
        .select(
            "doc_id", "n_tokens", "score_micro",
            (F.col("score_micro") >= 0).cast("long").alias("pred_quality"),
        )
    )


ORACLE_QUALITY_NB = f"""
WITH toked AS (
  SELECT doc_id, {_SQL_TOKS} AS t,
         CASE WHEN {tx.sql_quality_score_micro('text')} >= {QC_THRESH_MICRO}
              THEN 1 ELSE 0 END AS pos
  FROM documents WHERE len({_SQL_TOKS}) >= 1
),
train AS (SELECT * FROM toked WHERE doc_id % 2 = 0),
ttok AS (SELECT pos, unnest(t) AS w FROM train),
counts AS (
  SELECT w, CAST(sum(pos) AS BIGINT) AS cp,
         CAST(sum(1 - pos) AS BIGINT) AS cn
  FROM ttok GROUP BY w
),
scal AS (
  SELECT CAST(sum(len(t) * pos) AS BIGINT) AS np,
         CAST(sum(len(t) * (1 - pos)) AS BIGINT) AS nn,
         CAST(sum(pos) AS BIGINT) AS dp,
         CAST(sum(1 - pos) AS BIGINT) AS dn,
         (SELECT CAST(count(DISTINCT w) AS BIGINT) FROM ttok) AS v
  FROM train
),
model AS (
  SELECT w,
         CAST(floor(ln(CAST(cp + 1 AS DOUBLE) / CAST(np + v AS DOUBLE))
                    * 1000000.0) AS BIGINT)
         - CAST(floor(ln(CAST(cn + 1 AS DOUBLE) / CAST(nn + v AS DOUBLE))
                      * 1000000.0) AS BIGINT) AS w_micro
  FROM counts CROSS JOIN scal
),
consts AS (
  SELECT CAST(floor(ln(CAST(1 AS DOUBLE) / CAST(np + v AS DOUBLE))
                    * 1000000.0) AS BIGINT)
         - CAST(floor(ln(CAST(1 AS DOUBLE) / CAST(nn + v AS DOUBLE))
                      * 1000000.0) AS BIGINT) AS default_micro,
         CAST(floor(ln(CAST(dp AS DOUBLE) / CAST(dp + dn AS DOUBLE))
                    * 1000000.0) AS BIGINT)
         - CAST(floor(ln(CAST(dn AS DOUBLE) / CAST(dp + dn AS DOUBLE))
                      * 1000000.0) AS BIGINT) AS prior_micro
  FROM scal
),
held AS (
  SELECT doc_id, unnest(t) AS w FROM toked WHERE doc_id % 2 = 1
),
scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(coalesce(m.w_micro, c.default_micro))
              + any_value(c.prior_micro) AS BIGINT) AS score_micro
  FROM held LEFT JOIN model m USING (w) CROSS JOIN consts c
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, score_micro,
       CAST(CASE WHEN score_micro >= 0 THEN 1 ELSE 0 END AS BIGINT)
         AS pred_quality
FROM scored
"""

QUERIES["quality_classifier_nb"] = q_quality_classifier_nb
ORACLES["quality_classifier_nb"] = ORACLE_QUALITY_NB


# --- character-entropy quality signal (round 6) ----------------------------

def q_char_entropy(spark, sf_dir):
    """Per-document character-level Shannon entropy — the gibberish/
    binary-junk detector of a pretraining filter stack (natural text
    sits ~4-4.5 bits/char; base64 blobs and repeated-char junk land
    far above/below).

    Float discipline: entropy = ln(n) - (1/n) * sum_c count_c *
    ln(count_c). Each per-character term is floored to micro-nats
    BEFORE the sum (exact int64, order-independent — float summation
    order differs between engines); the final subtraction and integer
    divide are exact. Plan: chars explode linearly (n_chars per doc),
    roll up per (doc, char) then per doc — both keyed on doc_id, one
    shuffle partitioning."""
    d = _docs(spark, sf_dir)
    chars = d.select(
        "doc_id",
        F.explode(F.split("text", "")).alias("ch"),
    ).filter(F.col("ch") != "")
    per_char = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_doc = per_char.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(
            F.floor(
                F.col("c").cast("double")
                * F.log(F.col("c").cast("double"))
                * 1000000.0
            ).cast("long")
        ).cast("long").alias("s_clnc"),
    )
    return per_doc.select(
        "doc_id", "n",
        (
            F.floor(F.log(F.col("n").cast("double")) * 1000000.0).cast("long")
            - F.expr("s_clnc div n")
        ).cast("long").alias("entropy_micro"),
    )


ORACLE_CHAR_ENTROPY = """
WITH chars AS (
  SELECT doc_id, unnest(string_split_regex(text, '')) AS ch FROM documents
),
per_char AS (
  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
  FROM chars WHERE ch <> '' GROUP BY doc_id, ch
),
per_doc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                             * 1000000.0) AS BIGINT)) AS BIGINT) AS s_clnc
  FROM per_char GROUP BY doc_id
)
SELECT doc_id, n,
       CAST(CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)
            - s_clnc // n AS BIGINT) AS entropy_micro
FROM per_doc
"""

QUERIES["char_entropy"] = q_char_entropy
ORACLES["char_entropy"] = ORACLE_CHAR_ENTROPY


# --- Zipf-law fit over token frequencies (round 6) -------------------------

ZIPF_TOP = 500  # tokens considered (rank window runs over these only)


def q_zipf_fit(spark, sf_dir):
    """Zipf's-law fit: least-squares slope/intercept of ln(count) vs
    ln(rank) over the ZIPF_TOP most frequent tokens — the corpus-law
    diagnostic (natural language sits near slope -1; templated or
    synthetic text drifts off it).

    Determinism: ranks come from a deterministic (count desc, token
    asc) top-k; regression inputs x = floor(1e3*ln(rank)),
    y = floor(1e3*ln(count)) are MILLI-scaled so every regression sum
    (n*Sxy, Sx*Sy, n*Sxx, Sx^2) stays well inside int64; the slope
    and intercept are single double divides of exact integers,
    micro-floored. Plan: one corpus pass for counts; the top-k is
    TakeOrdered; the rank window and regression run over ZIPF_TOP
    rows — never corpus-scale."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("w")).limit(ZIPF_TOP)
    w = Window.orderBy(F.desc("cnt"), F.asc("w"))
    xy = top.withColumn("rnk", F.row_number().over(w).cast("long")).select(
        F.floor(F.log(F.col("rnk").cast("double")) * 1000.0)
        .cast("long").alias("x"),
        F.floor(F.log(F.col("cnt").cast("double")) * 1000.0)
        .cast("long").alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return s.select(
        "n",
        F.floor(slope * 1000000.0).cast("long").alias("slope_micro"),
        F.floor(intercept * 1000.0).cast("long").alias("intercept_milli"),
    )


ORACLE_ZIPF_FIT = f"""
WITH counts AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
),
top_t AS (
  SELECT w, cnt FROM counts ORDER BY cnt DESC, w LIMIT {ZIPF_TOP}
),
xy AS (
  SELECT CAST(floor(ln(CAST(row_number() OVER (ORDER BY cnt DESC, w)
                            AS DOUBLE)) * 1000.0) AS BIGINT) AS x,
         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000.0) AS BIGINT) AS y
  FROM top_t
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM xy
)
SELECT n,
       CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                  * 1000000.0) AS BIGINT) AS slope_micro,
       CAST(floor((CAST(sy AS DOUBLE)
                   - CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(sx AS DOUBLE))
                  / CAST(n AS DOUBLE) * 1000.0) AS BIGINT)
         AS intercept_milli
FROM s
"""

QUERIES["zipf_fit"] = q_zipf_fit
ORACLES["zipf_fit"] = ORACLE_ZIPF_FIT


# --- per-source distribution drift (round 8) --------------------------------


def q_source_drift_kl(spark, sf_dir):
    """Corpus drift monitor: KL(source || corpus) over token
    distributions, per source — the signal a corpus-mixing pipeline
    watches to catch a feed whose content shifted (spam influx,
    scraper breakage, language drift). Add-one smoothing over the
    CORPUS vocabulary puts every source on the same support; each
    term p_w * ln(p_w/q_w) is micro-floored BEFORE the per-source
    int64 sum (the lm_doc_scores discipline), so the divergence is
    order-independent and hash-exact. Note floored-term KL is a
    deterministic variant, not the real-valued KL (each term rounds
    toward -inf); the gate pins the variant, the ranking carries the
    signal.

    Plan at 100 TB: token counts are one (source, word) rollup with
    map-side combine; the term grid is |vocab| x |sources| —
    Heaps-bounded, never corpus-sized; corpus-side counts broadcast.
    One pass over the corpus total.

    r14 optimization (guide §2.4, §5 "localCheckpoint cuts lineage"):
    the old form re-tokenized and re-aggregated the corpus token
    stream FIVE times per action (cs, cg, ns, stats, and the grid's
    distinct-sources branch each re-derived it — join-key null
    filters make the subtrees canonically unequal, so ReuseExchange
    cannot dedup them). cs — the Heaps-bounded (source, word) counts
    table, never corpus-sized — is now materialized once with
    localCheckpoint, and cg/ns/stats/grid are exact rollups OF cs
    (sum of c_s per w / per source == count of positions). One
    corpus tokenize+shuffle per action instead of five. Values
    unchanged."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "source", F.explode(tx.tokens(F.col("text"))).alias("w")
    )
    cs = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c_s")
    ).localCheckpoint(eager=False)
    cg = cs.groupBy("w").agg(F.sum("c_s").cast("long").alias("c_g"))
    ns = cs.groupBy("source").agg(
        F.sum("c_s").cast("long").alias("n_s")
    )
    stats = cg.agg(
        F.sum("c_g").cast("long").alias("n_g"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    grid = ns.select("source").crossJoin(cg).join(
        cs, ["source", "w"], "left"
    ).select(
        "source", "w", "c_g",
        F.coalesce(F.col("c_s"), F.lit(0).cast("long")).alias("c_s"),
    )
    j = grid.join(F.broadcast(ns), "source").crossJoin(F.broadcast(stats))
    p = (F.col("c_s").cast("double") + F.lit(1.0)) / (
        F.col("n_s").cast("double") + F.col("v").cast("double")
    )
    q = (F.col("c_g").cast("double") + F.lit(1.0)) / (
        F.col("n_g").cast("double") + F.col("v").cast("double")
    )
    term = F.floor(p * F.log(p / q) * 1000000.0).cast("long")
    out = (
        j.select("source", "n_s", term.alias("t"))
        .groupBy("source")
        .agg(
            F.first("n_s").alias("n_tokens"),
            F.sum("t").cast("long").alias("kl_micro"),
        )
    )
    return out.select("source", "n_tokens", "kl_micro")


_SQL_TOKS_DRIFT = tx.sql_tokens("text")

ORACLE_SOURCE_DRIFT = f"""
WITH toks AS (
  SELECT source, unnest({_SQL_TOKS_DRIFT}) AS w FROM documents
),
cs AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c_s
       FROM toks GROUP BY source, w),
cg AS (SELECT w, CAST(count(*) AS BIGINT) AS c_g FROM toks GROUP BY w),
ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
       FROM toks GROUP BY source),
stats AS (SELECT CAST(sum(c_g) AS BIGINT) AS n_g,
                 CAST(count(*) AS BIGINT) AS v FROM cg),
grid AS (
  SELECT ns.source, cg.w, cg.c_g, coalesce(cs.c_s, 0) AS c_s
  FROM (SELECT DISTINCT source FROM ns) ns
  CROSS JOIN cg
  LEFT JOIN cs ON cs.source = ns.source AND cs.w = cg.w
),
terms AS (
  SELECT g.source, n.n_s,
         CAST(floor(
           ((CAST(c_s AS DOUBLE) + 1.0)
            / (CAST(n.n_s AS DOUBLE) + CAST(s.v AS DOUBLE)))
           * ln(((CAST(c_s AS DOUBLE) + 1.0)
                 / (CAST(n.n_s AS DOUBLE) + CAST(s.v AS DOUBLE)))
                / ((CAST(c_g AS DOUBLE) + 1.0)
                   / (CAST(s.n_g AS DOUBLE) + CAST(s.v AS DOUBLE))))
           * 1000000.0) AS BIGINT) AS t
  FROM grid g JOIN ns n ON g.source = n.source CROSS JOIN stats s
)
SELECT source, CAST(any_value(n_s) AS BIGINT) AS n_tokens,
       CAST(sum(t) AS BIGINT) AS kl_micro
FROM terms GROUP BY source
"""

QUERIES["source_drift_kl"] = q_source_drift_kl
ORACLES["source_drift_kl"] = ORACLE_SOURCE_DRIFT


def q_perplexity_buckets(spark, sf_dir):
    """Exact perplexity-decile assignment — the binning step of
    LM-quality curation (CCNet buckets the corpus by LM perplexity
    and samples per bucket; the bucket boundary must be an EXACT
    order statistic or the recipe is irreproducible across runs):
    every doc's bigram-LM score (the gated ``lm_doc_scores`` lineage,
    verbatim) is placed into ntile(10) deciles of
    (avg_nll_micro asc, doc_id asc) — decile 1 = most probable text.

    Scale form, not the window form: boundary keys come from
    operators/selection.exact_rank_keys (range shuffle + metadata
    jobs — the customer_value_quartiles_scalable machinery), and each
    row places itself against the 9 broadcast boundary literals in
    the scan stage. No Window operator and no single-partition SORT
    anywhere (the plan's only SinglePartition exchange is the LM's
    1-row vocabulary-size scalar reduce, which is map-side combined —
    tests/test_repetition.py pins exactly this shape); the oracle is
    DuckDB's real ntile(10), so the hash match proves the distributed
    selection reproduces the global window exactly (the sort key is
    unique, so assignment is deterministic)."""
    from ..operators.selection import exact_rank_keys, ntile_boundaries
    from ..session import plan_memo

    # r14 optimization (guide §1.2 "don't compute things you throw
    # away"): the original persisted ``scores`` only for the boundary
    # pass, unpersisted it, then RETURNED a fresh q_lm_doc_scores
    # lineage — so every action re-paid the full scoring pipeline
    # (tokenize + model join + per-doc agg) a second time. Keep the
    # persisted relation alive through the returned plan instead; the
    # rotating registry slot releases the PREVIOUS invocation's copy
    # (exactly one resident per session, the _rotating_dir stance),
    # and an eviction is safe — an unpersisted cache just recomputes.
    scores = plan_memo(
        spark,
        ("perplexity_scores_slot",),
        lambda: q_lm_doc_scores(spark, sf_dir)
        .select("doc_id", "avg_nll_micro")
        .persist(),
        refresh=True,
    )
    n = scores.count()
    if n == 0:
        return scores.select(
            "doc_id", "avg_nll_micro", F.lit(1).alias("decile")
        ).limit(0)
    bounds = exact_rank_keys(
        scores,
        [F.asc("avg_nll_micro"), F.asc("doc_id")],
        ntile_boundaries(n, 10),
    )
    after = [
        (F.col("avg_nll_micro") > b["avg_nll_micro"])
        | (
            (F.col("avg_nll_micro") == b["avg_nll_micro"])
            & (F.col("doc_id") > b["doc_id"])
        )
        for b in bounds
    ]
    decile = F.lit(1)
    for a in after:
        decile = decile + a.cast("int")
    return scores.select(
        "doc_id", "avg_nll_micro", decile.cast("int").alias("decile")
    )


ORACLE_PERPLEXITY_BUCKETS = f"""
WITH scores AS (
  SELECT doc_id, avg_nll_micro FROM ({ORACLE_LM_DOC_SCORES.strip()}) s
)
SELECT doc_id, avg_nll_micro,
       CAST(ntile(10) OVER (ORDER BY avg_nll_micro ASC, doc_id ASC)
            AS INT) AS decile
FROM scores
"""

QUERIES["perplexity_buckets"] = q_perplexity_buckets
ORACLES["perplexity_buckets"] = ORACLE_PERPLEXITY_BUCKETS
