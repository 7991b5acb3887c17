"""Text-analysis operators (SURVEY.md §2.B [NS]: text_tokenize_stats,
text_lang_id, text_quality_score, text_fingerprint, text_token_count_bpe,
text_sentiment_lexicon).

All expressions are JVM built-ins (split/filter/transform/regexp) — a
100 TB text sweep should be scan-bound, not Python-bound. The EDBT'16
Spark sentiment paper grounds the lexicon-scoring shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..functions.exact import DEC_FINE, dsum, sql_dsum
from ..functions.text import (
    LANG_STOPWORDS,
    SENTIMENT_LEXICON,
    SQL_SHINGLES3,
    kgrams,
    shingles3,
    tokens,
)
from ..memo import pin
from ..registry import query
from ..tables import load, load_parallel


@query(
    "text_tokenize_stats",
    oracle="""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks, length(text) AS n_char
           FROM documents)
SELECT doc_id, lang,
       n_char,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct,
       ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr,
       ROUND(CAST(n_char - len(toks) + 1 AS DOUBLE) / len(toks), 6) AS avg_tok_len
FROM t
""",
)
def text_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: counts, type-token ratio, average
    token length — the quality-signal primitives of an LLM data
    pipeline."""
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_char"), tokens("text").alias("toks")
    )
    n_tok = F.size("toks").cast("long")
    n_dis = F.size(F.array_distinct("toks")).cast("long")
    return t.select(
        "doc_id",
        "lang",
        "n_char",
        n_tok.alias("n_tokens"),
        n_dis.alias("n_distinct"),
        F.round(n_dis.cast("double") / n_tok, 6).alias("ttr"),
        F.round((F.col("n_char") - n_tok + 1).cast("double") / n_tok, 6).alias(
            "avg_tok_len"
        ),
    )


def _stop_words(lang: str) -> str:
    """The language's stopwords as an SQL IN-list body."""
    return ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])


def _sql_stop_count(lang: str) -> str:
    return f"len(list_filter(toks, x -> x IN ({_stop_words(lang)})))"


@query(
    "text_lang_id",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (
    SELECT doc_id,
           {_sql_stop_count('en')} AS s_en,
           {_sql_stop_count('es')} AS s_es,
           {_sql_stop_count('de')} AS s_de,
           {_sql_stop_count('fr')} AS s_fr
    FROM t
)
SELECT doc_id, s_en, s_es, s_de, s_fr,
       CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'unknown'
            WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
            WHEN s_de >= s_fr THEN 'de'
            ELSE 'fr' END AS lang_pred
FROM s
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based language ID: score each candidate language by
    closed-class (stopword) token hits, argmax with a fixed priority
    order for ties. The cheap deterministic heuristic used to pre-bucket
    a crawl before an expensive model-based identifier; char-n-gram
    profiles slot into the same scored-CASE shape."""
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))

    def stop_count(lang: str) -> F.Column:
        return F.expr(
            f"CAST(size(filter(toks, x -> x IN ({_stop_words(lang)}))) AS BIGINT)"
        )

    s = t.select(
        "doc_id",
        stop_count("en").alias("s_en"),
        stop_count("es").alias("s_es"),
        stop_count("de").alias("s_de"),
        stop_count("fr").alias("s_fr"),
    )
    pred = (
        F.when(
            (F.col("s_en") == 0)
            & (F.col("s_es") == 0)
            & (F.col("s_de") == 0)
            & (F.col("s_fr") == 0),
            "unknown",
        )
        .when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when((F.col("s_es") >= F.col("s_de")) & (F.col("s_es") >= F.col("s_fr")), "es")
        .when(F.col("s_de") >= F.col("s_fr"), "de")
        .otherwise("fr")
    )
    return s.select("doc_id", "s_en", "s_es", "s_de", "s_fr", pred.alias("lang_pred"))


@query(
    "text_quality_score",
    oracle="""
WITH t AS (
    SELECT doc_id,
           length(text) AS n_char,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_filter(string_split(text, ' '),
               x -> x IN ('the', 'and', 'of', 'a', 'to', 'in'))) AS n_stop
    FROM documents
)
SELECT doc_id, n_char, n_tokens,
       ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
       CASE WHEN n_tokens >= 20
             AND n_char >= 100
             AND CAST(n_stop AS DOUBLE) / n_tokens BETWEEN 0.01 AND 0.5
            THEN 1 ELSE 0 END AS keep
FROM t
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gate (Gopher/C4-style rules, reduced): length
    floors + stopword-ratio band → binary keep flag. The same shape the
    reference applies to its feed (coerce-and-drop, fetch_data.py:149-156)
    — here as an auditable flag instead of a silent drop."""
    d = load_parallel(spark, sf_dir, "documents")
    toks = tokens("text")
    stop = F.expr(
        f"size(filter(split(text, ' '), x -> x IN ({_stop_words('en')})))"
    )
    t = d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_char"),
        F.size(toks).cast("long").alias("n_tokens"),
        stop.cast("long").alias("n_stop"),
    )
    ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    keep = (
        (F.col("n_tokens") >= 20)
        & (F.col("n_char") >= 100)
        & ratio.between(0.01, 0.5)
    )
    return t.select(
        "doc_id",
        "n_char",
        "n_tokens",
        F.round(ratio, 6).alias("stop_ratio"),
        keep.cast("int").alias("keep"),
    )


@query(
    "text_fingerprint",
    oracle=f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       md5(text) AS full_hash,
       CASE WHEN len(toks) >= 3
            THEN list_min(list_transform({SQL_SHINGLES3.format(toks='toks')},
                                         s -> md5(s)))
            ELSE md5(text) END AS min_shingle_hash
FROM t
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full-content hash + minimum shingle hash
    (a 1-hash MinHash — the winnowing/rolling-fingerprint family's
    simplest member). Two docs sharing min_shingle_hash almost surely
    share a 3-gram window; used as a cheap pre-cluster key before the
    full MinHash pipeline."""
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select("doc_id", "text", shingles3("text").alias("sh"))
    min_sh = F.expr("array_min(transform(sh, s -> md5(s)))")
    return t.select(
        "doc_id",
        F.md5("text").alias("full_hash"),
        F.when(F.size("sh") > 0, min_sh).otherwise(F.md5("text")).alias(
            "min_shingle_hash"
        ),
    )


@query(
    "text_tfidf",
    oracle="""
WITH tok AS (
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents
),
n_docs AS (SELECT COUNT(*) AS n FROM documents),
df AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY term),
tf AS (
    SELECT doc_id, t.term, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
    GROUP BY doc_id, t.term
)
SELECT tf.doc_id, tf.term, tf.tf, df.df,
       ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
FROM tf JOIN df ON tf.term = df.term CROSS JOIN n_docs n
WHERE tf.tf >= 3
""",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF by explicit formula (tf × ln(N/df)) — term frequency per
    doc, document frequency via a distinct-explode aggregate, broadcast
    of the tiny (N) scalar. `pyspark.ml`'s HashingTF/IDF computes the
    hashed-feature equivalent; the explicit form keeps exact terms and
    an ANSI oracle. tf>=3 keeps the result set focused (and the shuffle
    output small) — at 100 TB the df table is the broadcast side after
    a stop-term cap."""
    d = load_parallel(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tok.distinct().groupBy("term").agg(F.count("*").alias("df"))
    n = d.count()  # driver-side scalar: one tiny job, broadcast as literal
    tfidf = F.round(
        F.col("tf") * F.log(F.lit(float(n)) / F.col("df")), 6
    ).alias("tfidf")
    return (
        tf.filter(F.col("tf") >= 3)
        .join(F.broadcast(df_), "term")
        .select("doc_id", "term", "tf", "df", tfidf)
    )


_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


@query(
    "text_token_count_bpe",
    oracle=f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '{_BPE_RE}')) AS bpe_ish_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS char4_estimate
FROM documents
""",
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, BPE-ish regex pieces
    (letter runs / digit runs / single punctuation — the pre-tokenizer
    split of GPT-style BPE), and the chars/4 rule of thumb. The budget
    arithmetic of every LLM data pipeline, kept regex-only so the count
    is a column expression, not a Python pass."""
    d = load_parallel(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0)))
        .cast("long")
        .alias("bpe_ish_tokens"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("char4_estimate"),
    )


@query(
    "text_ngrams",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bi AS (
    SELECT doc_id,
           unnest(CASE WHEN len(t) >= 2
                  THEN list_transform(generate_series(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i+1])
                  ELSE [] END) AS bigram
    FROM toks
)
SELECT bigram, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS doc_freq
FROM bi
GROUP BY bigram
HAVING COUNT(*) >= 20
""",
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word bigram extraction + corpus frequency (the NGram stage of
    SURVEY.md §2.B text_tokenize_stats): zip-shifted token arrays (the
    same outer-reference-free construction as shingles3), exploded and
    counted. The ≥20 corpus-frequency floor is the collocation-mining
    cut; `pyspark.ml.feature.NGram` produces the same arrays inside an
    ML pipeline."""
    d = load_parallel(spark, sf_dir, "documents")
    bi = d.select("doc_id", F.explode(kgrams("text", 2)).alias("bigram"))
    return (
        bi.groupBy("bigram")
        .agg(F.count("*").alias("freq"), F.countDistinct("doc_id").alias("doc_freq"))
        .filter(F.col("freq") >= 20)
    )


@query(
    "text_sentiment_lexicon",
    oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
lex(word, weight) AS (VALUES {values})
SELECT t.doc_id,
       CAST(COALESCE(SUM(l.weight), 0) AS BIGINT) AS sentiment,
       COUNT(l.word) AS n_hits
FROM tok t LEFT JOIN lex l ON t.tok = l.word
GROUP BY t.doc_id
""".format(
        values=", ".join(f"('{w}', {s})" for w, s in SENTIMENT_LEXICON.items())
    ),
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-scored sentiment (EDBT'16 approach): token → weight via a
    broadcast lexicon, integer sum per document (exact across engines).
    Implemented as explode + broadcast equi-join — the lexicon is tiny,
    the fact side never shuffles for the join itself."""
    d = load_parallel(spark, sf_dir, "documents")
    lex = d.sparkSession.createDataFrame(
        list(SENTIMENT_LEXICON.items()), "word string, weight int"
    )
    tok = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    j = tok.join(F.broadcast(lex), tok.tok == lex.word, "left")
    return j.groupBy("doc_id").agg(
        F.coalesce(F.sum("weight"), F.lit(0)).cast("bigint").alias("sentiment"),
        F.count("word").alias("n_hits"),
    )


# PII patterns shared verbatim by both engines: RE2 (DuckDB) and Java
# regex agree on this subset (char classes, {m,n}, \b, alternation —
# no backrefs/lookaround, which RE2 lacks).
_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PII_IP = r"\b\d{1,3}(\.\d{1,3}){3}\b"
_PII_PHONE = r"\b\+?\d{2,3}[- ]\d{3,4}[- ]\d{4}\b"


@query(
    "text_pii_scrub",
    oracle=f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || doc_id ||
         '@example.com or +91-' || 1000 + doc_id % 9000 || '-' ||
         (1000 + doc_id % 8999) || ' host 10.' || doc_id % 256 || '.0.' ||
         doc_id % 250 AS text
  FROM documents
), scrubbed AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(text,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IP}', '<IP>', 'g') AS clean,
         len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_email,
         len(regexp_extract_all(text, '{_PII_IP}')) AS n_ip
  FROM seeded
)
SELECT doc_id,
       CAST(length(clean) AS BIGINT) AS n_chars_clean,
       md5(clean) AS clean_md5,
       CAST(n_email AS BIGINT) AS n_email,
       CAST(n_ip AS BIGINT) AS n_ip
FROM scrubbed
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus — emails, phone numbers and IPs
    replaced by typed placeholder tokens, with per-document redaction
    counts (the audit trail a compliance pass needs). The synthetic
    corpus carries no PII, so the operator deterministically seeds each
    document with id-derived PII first — both engines build the same
    dirty text, then both scrub it, so the match proves the patterns
    fire identically.

    Row-local regexp_replace chain: embarrassingly parallel, zero
    shuffle, whole-stage-codegen'd — at 100 TB a PII sweep is pure scan
    throughput. Patterns stay in the RE2∩Java-regex subset (no
    lookaround/backrefs) so the same strings work on both engines; the
    order matters (emails before IPs: an IPv4-looking domain must not
    pre-empt the email hit)."""
    d = load_parallel(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +91-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            F.lit("-"),
            (F.lit(1000) + F.col("doc_id") % 8999).cast("string"),
            F.lit(" host 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            (F.col("doc_id") % 250).cast("string"),
        ).alias("text"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return seeded.select(
        "doc_id",
        F.length(clean).cast("long").alias("n_chars_clean"),
        F.md5(clean).alias("clean_md5"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_email"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_IP), F.lit(0)))
        .cast("long")
        .alias("n_ip"),
    )


# Zipf head size for the routed count joins (unigram/bigram LM): the
# top-4096 keys of a Zipf vocabulary cover the overwhelming share of
# token occurrences, so the broadcast-head path absorbs most of the
# fact and only the tail shuffles.
_ZIPF_HEAD = 4096

_VOCAB_COUNT_CACHE: dict = {}


def _distinct_token_count(spark: SparkSession, sf_dir: str) -> int:
    """Distinct-token count of the documents corpus — the one-row
    pre-agg that decides whether the LM count joins need head/tail
    routing at all (the conditional degree-cap discipline, r6): when
    the WHOLE model table fits the broadcast head, routing's
    filter/union/tail-join scaffolding is pure overhead — measured
    pointless on this corpus's constant 31-token vocabulary. A
    metadata memo (memo.cached on the documents fingerprint) like
    tables.max_group_count, so warm bench runs and the full selfcheck
    pay one tokenization scan. At 100 TB this scalar comes from the
    vocabulary table's metastore statistics."""
    return memo.cached(
        _VOCAB_COUNT_CACHE,
        spark,
        sf_dir,
        ("documents",),
        lambda: int(
            load_parallel(spark, sf_dir, "documents")
            .select(F.explode(tokens("text")).alias("w"))
            .agg(F.count_distinct("w").alias("v"))
            .first()["v"]
        ),
    )


@query(
    "text_unigram_logprob",
    oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
tot AS (SELECT SUM(cnt) AS n_corpus FROM vocab)
SELECT t.doc_id,
       ROUND(SUM(ln(v.cnt / tot.n_corpus)) / COUNT(*), 4) AS avg_logprob,
       COUNT(*) AS n_tokens
FROM tok t JOIN vocab v USING (tok) CROSS JOIN tot
GROUP BY t.doc_id
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    token distribution — the perplexity-style quality filter of LLM data
    curation (documents scoring far below the corpus norm are
    boilerplate/garbage candidates; far above are repetitive). Two-pass
    shape: build the vocabulary (token → count, a partial-aggregable
    groupBy), then score each token occurrence against it and average
    per document.

    Scale: the token→count join keys on the token — Zipf-skewed — so
    the top-_ZIPF_HEAD head of the vocabulary joins BROADCAST (covers
    ~95% of occurrences, zero fact shuffle) and only head-miss
    occurrences reach the shuffled tail join (the join_skew_salted
    playbook, structural rather than salted); the corpus total rides a
    1-row cross join, not a collect. ln() sums are ROUND(4)ed per
    registry.py's order-sensitive-float rule."""
    d = load_parallel(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    # lazy-materialized: the vocabulary is consumed twice (head
    # TakeOrdered + tail join) and is the model you'd persist anyway
    vocab = pin(
        tok.groupBy("tok").agg(F.count("*").alias("cnt")),
        eager=False,
    )
    total = vocab.agg(F.sum("cnt").alias("n_corpus"))
    # Zipf head/tail routing: the top-_ZIPF_HEAD tokens cover the vast
    # majority of occurrences, so they join BROADCAST (map-side, no
    # fact shuffle); only head-miss occurrences — the Zipf tail — reach
    # the shuffled join. Identical per-row counts either path, so the
    # oracle is unchanged; what changes is that the fact-sized exchange
    # now carries the tail fraction only (the join_skew_salted
    # playbook, made structural).
    # CONDITIONAL routing (r7): when the memoized vocabulary bound
    # proves the whole vocab fits the head, a single broadcast join
    # replaces the filter/union/tail scaffolding — identical rows.
    if _distinct_token_count(spark, sf_dir) <= _ZIPF_HEAD:
        scored = tok.join(F.broadcast(vocab), "tok")
    else:
        vhead = vocab.orderBy(F.desc("cnt"), F.asc("tok")).limit(_ZIPF_HEAD)
        hj = tok.join(F.broadcast(vhead), "tok", "left")
        scored = hj.filter(F.col("cnt").isNotNull()).unionByName(
            hj.filter(F.col("cnt").isNull()).drop("cnt").join(vocab, "tok")
        )
    return (
        scored.join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.log(F.col("cnt") / F.col("n_corpus"))) / F.count("*"), 4
            ).alias("avg_logprob"),
            F.count("*").alias("n_tokens"),
        )
    )


# RE2∩Java subset (CLAUDE.md regex rules): inline (?s) dotall + lazy
# quantifiers are supported by both; no lookaround/backrefs.
_HTML_SCRIPT = r"(?s)<(script|style)[^>]*>.*?</(script|style)>"
_HTML_TAG = r"<[^>]+>"


@query(
    "text_html_strip",
    oracle=f"""
WITH seeded AS (
  SELECT doc_id,
         '<html><head><title>doc' || doc_id ||
         '</title><style>p {{color: red}}</style></head><body><h1>H' ||
         doc_id || '</h1><p class="x">' || text ||
         '</p><script>var t = 1 < 2;</script></body></html>' AS html
  FROM documents
), stripped AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(regexp_replace(html,
             '{_HTML_SCRIPT}', ' ', 'g'),
             '{_HTML_TAG}', ' ', 'g'),
             '\\s+', ' ', 'g')) AS clean
  FROM seeded
)
SELECT doc_id,
       CAST(length(clean) AS BIGINT) AS n_chars,
       md5(clean) AS clean_md5
FROM stripped
""",
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup removal for web-corpus cleaning: drop <script>/<style>
    blocks wholesale (their CONTENT is not text), then strip remaining
    tags, then collapse whitespace — order matters, a tag-only strip
    would leak javascript into the 'clean' text. The corpus is plain
    text, so each document is first wrapped in deterministic id-derived
    HTML; both engines build and clean the same page, and the md5 match
    proves every pattern fired identically (text_pii_scrub's seeding
    argument).

    Row-local regexp chain: zero shuffle, codegen'd, scan-bound at
    100 TB — the boilerplate-removal stage in front of dedup_paragraph's
    chunk-level pass."""
    d = load_parallel(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>doc"),
            F.col("doc_id").cast("string"),
            F.lit('</title><style>p {color: red}</style></head><body><h1>H'),
            F.col("doc_id").cast("string"),
            F.lit('</h1><p class="x">'),
            F.col("text"),
            F.lit("</p><script>var t = 1 < 2;</script></body></html>"),
        ).alias("html"),
    )
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("html"), _HTML_SCRIPT, " "),
                _HTML_TAG,
                " ",
            ),
            r"\s+",
            " ",
        )
    )
    return seeded.select(
        "doc_id",
        F.length(clean).cast("long").alias("n_chars"),
        F.md5(clean).alias("clean_md5"),
    )


_KW_K = 3


@query(
    "text_keyword_extract",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok
), df AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok
), n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok
), scored AS (
  SELECT tf.doc_id, tf.tok,
         ROUND(tf.tf * ROUND(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6), 6)
           AS score
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
), ranked AS (
  SELECT doc_id, tok, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, tok) AS rn
  FROM scored
)
SELECT doc_id,
       string_agg(tok, '|' ORDER BY rn) AS keywords,
       string_agg(CAST(CAST(ROUND(score * 1e6) AS BIGINT) AS VARCHAR),
                  '|' ORDER BY rn) AS scores_micro
FROM ranked WHERE rn <= {_KW_K}
GROUP BY doc_id
""",
)
def text_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 TF-IDF terms as
    rank-ordered arrays — the tagging/routing primitive downstream of
    text_tfidf's flat scores. TF is exact, IDF's ln is ROUND(6)ed before
    the (then-exact) integer multiply so both engines rank on identical
    scores, ties break lexically, and the arrays are canonicalized by
    rank (agg_collect_sorted's rule), then serialized to pipe-joined
    strings — keywords directly, scores on the 1e-6 integer lattice
    (double→string rendering differs per engine; micro-units don't) —
    so the result carries only scalar, driver-hashable columns.

    Scale: same inverted-index shuffles as text_tfidf (doc-keyed TF,
    token-keyed DF) plus one bounded per-doc window; the corpus-size
    scalar rides a one-row cross join. Zipf head handling mirrors
    text_unigram_logprob: broadcast the top-V DF table, shuffle the
    tail."""
    d = load_parallel(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    n = tok.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "tok")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf")
                * F.round(F.log(F.col("n_docs").cast("double") / F.col("df")), 6),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    ranked = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KW_K
    )
    packed = "array_sort(collect_list(struct(rn, tok, score)))"
    return ranked.groupBy("doc_id").agg(
        F.expr(f"concat_ws('|', transform({packed}, s -> s.tok))").alias(
            "keywords"
        ),
        F.expr(
            f"concat_ws('|', transform({packed}, s -> "
            "CAST(CAST(round(s.score * 1000000.0D) AS BIGINT) AS STRING)))"
        ).alias("scores_micro"),
    )


_EMB_D = 16  # hashed-embedding dimensionality


@query(
    "text_embed_hash",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), h AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5('emb:' || tok), 1, 8)) AS BIGINT) AS hv
  FROM tok
)
SELECT doc_id,
       hv % {_EMB_D} AS dim_idx,
       CAST(SUM(CASE WHEN (hv // {_EMB_D}) % 2 = 0 THEN 1 ELSE -1 END)
            AS BIGINT) AS v
FROM h
GROUP BY doc_id, hv % {_EMB_D}
""",
)
def text_embed_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free document embeddings via the hashing trick (feature
    hashing): every token hashes to one of 16 dimensions with a
    ±1 sign drawn from the next hash bit, and the doc's vector is the
    signed count per dimension — the classic hashing vectorizer, which
    needs no vocabulary build, no model artifact, and no Python in the
    hot path. Emitted LONG-FORM (doc_id, dim_idx, v): exact integers
    the oracle reproduces bit-for-bit from the shared md5 lattice, and
    the shape agg_vector_centroid / sim_* consume directly.

    Scale: one explode + one groupBy keyed (doc_id, dim) — partial
    aggregation collapses each doc's token stream map-side, so the
    shuffle carries ≤ 16 rows per document regardless of doc
    length. This is the cheap first-pass featurization a curation
    pipeline runs corpus-wide before any learned embedding exists."""
    d = load_parallel(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    hv = F.conv(
        F.substring(F.md5(F.concat(F.lit("emb:"), F.col("tok"))), 1, 8), 16, 10
    ).cast("long")
    h = tok.select("doc_id", hv.alias("hv"))
    sign = F.when(
        (F.expr(f"hv div {_EMB_D}") % 2) == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        h.groupBy("doc_id", (F.col("hv") % _EMB_D).alias("dim_idx"))
        .agg(F.sum(sign).cast("long").alias("v"))
    )


_CHUNK_SIZE = 100
_CHUNK_STRIDE = 80  # 20-char overlap between consecutive chunks


@query(
    "text_chunk_split",
    oracle=f"""
SELECT doc_id,
       CAST(off AS BIGINT) AS off,
       CAST(length(substring(text, off, {_CHUNK_SIZE})) AS BIGINT) AS chunk_len,
       md5(substring(text, off, {_CHUNK_SIZE})) AS chunk_md5
FROM (
  SELECT doc_id, text,
         UNNEST(generate_series(1, greatest(length(text), 1),
                                {_CHUNK_STRIDE})) AS off
  FROM documents
)
""",
)
def text_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (100-char windows,
    80-char stride → 20-char
    overlap): the context-window splitter every RAG indexer and
    fixed-length pretraining tokenizer runs before embedding/packing.
    Offsets come from a per-row `sequence` explode — generated
    row-locally from the document's own length, no join, no shuffle;
    chunk identity is carried as (offset, length, md5) so the output
    stays scalar (driver-hashability rule) and downstream exact-dedup
    can run per-chunk (dedup_paragraph's grain, here with overlap for
    retrieval continuity).

    Scale shape: pure map — chunking 100 TB is embarrassingly parallel,
    and the ~2.25× row expansion happens
    AFTER the scan, inside the same stage."""
    d = load_parallel(spark, sf_dir, "documents")
    chunk = F.substring(F.col("text"), F.col("off").cast("int"), _CHUNK_SIZE)
    return (
        d.select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("text"), F.lit(1)),
                    F.lit(_CHUNK_STRIDE),
                )
            ).alias("off"),
        )
        .select(
            "doc_id",
            F.col("off").cast("long").alias("off"),
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


_BPE_MERGES = 10


def _bpe_apply_merge(seq: str, a: str, b: str) -> F.Column:
    """Replace every non-overlapping adjacent (a, b) with a||b in a
    symbol array — one left-to-right fold with a skip flag, entirely in
    codegen'd higher-order functions (no UDF): the accumulator struct
    carries the output array and whether the previous position was
    consumed by a merge. `seq`, `a` and `b` are SQL expressions (the
    array column and the pair's two symbols)."""
    cur, nxt = f"element_at({seq}, i + 1)", f"element_at({seq}, i + 2)"
    # nxt is NULL past the end
    is_pair = (
        f"((NOT acc.skip) AND i < size({seq}) - 1 AND {cur} = {a} AND {nxt} = {b})"
    )
    return F.expr(
        f"aggregate(sequence(0, size({seq}) - 1), "
        "struct(CAST(array() AS ARRAY<STRING>) AS out, false AS skip), "
        "(acc, i) -> struct("
        "CASE WHEN acc.skip THEN acc.out "
        f"WHEN {is_pair} THEN concat(acc.out, array(concat({a}, {b}))) "
        f"ELSE concat(acc.out, array({cur})) END AS out, "
        f"CASE WHEN acc.skip THEN false ELSE {is_pair} END AS skip), "
        "acc -> acc.out)"
    )


@query("text_bpe_train")
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, distributed: 10 merge rounds
    over the corpus — the step `text_token_count_bpe` (which only
    counts with a fixed regex) leaves to an external tool, done in the
    engine. The classic scaling trick makes it feasible: all counting
    runs on the WORD-FREQUENCY table (vocabulary grain — bounded by
    distinct words, not corpus size), each word carried as its symbol
    array. Per round: explode adjacent symbol pairs weighted by word
    frequency, partial-agg count, pick the max pair (count DESC, then
    lexicographic — fully deterministic), and rewrite every word's
    symbol array with a codegen'd left-fold (no Python in the loop);
    the winning pair rides in a 1-row broadcast frame
    (ml_logreg_quality's model-frame discipline) and the vocab frame is
    checkpointed per round (graph_pagerank's).

    Output: the ordered merge table (rank, left, right, pair_count) —
    the tokenizer artifact itself. Rows-only driver check (DuckDB has
    no stateful list fold to express the rewrite); the REAL check is
    tests/test_extensions.py pinning exact parity with an independent
    pure-Python BPE reference."""
    from ..tables import load_parallel as _lp

    d = _lp(spark, sf_dir, "documents")
    words = pin(
        d.select(F.explode(tokens("text")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(F.split("w", "").alias("seq"), "freq")
    )

    merges = []
    for rank in range(_BPE_MERGES):
        pairs = (
            words.select(
                "freq",
                F.expr(
                    "explode(zip_with(slice(seq, 1, size(seq) - 1), "
                    "slice(seq, 2, size(seq) - 1), (a, b) -> struct(a AS a, b AS b)))"
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pin(
            pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .withColumn("rank", F.lit(rank).cast("long"))
        )
        merges.append(best)
        b = best.select(
            F.col("a").alias("ma"), F.col("b").alias("mb")
        )
        words = pin(words.join(F.broadcast(b)).select(
            _bpe_apply_merge("seq", "ma", "mb").alias("seq"),
            "freq",
        ))

    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.select(
        "rank",
        F.col("a").alias("left"),
        F.col("b").alias("right"),
        F.col("cnt").alias("pair_count"),
    )


_BGLM_HOLD = 7  # doc_id % 7 == 0 plays the held-out eval set


@query(
    "text_bigram_logprob",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM tok, LATERAL (SELECT UNNEST(generate_series(1, len(t) - 1)) AS i)
),
train_bg AS (SELECT w1, w2 FROM bg WHERE doc_id % {_BGLM_HOLD} != 0),
c2 AS (SELECT w1, w2, COUNT(*) AS c FROM train_bg GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS n FROM train_bg GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w1) AS vsize FROM
      (SELECT w1 FROM train_bg UNION ALL SELECT w2 FROM train_bg)),
held AS (SELECT * FROM bg WHERE doc_id % {_BGLM_HOLD} = 0)
SELECT h.doc_id,
       ROUND(SUM(ln((COALESCE(c2.c, 0) + 1.0)
                    / (COALESCE(c1.n, 0) + v.vsize))) / COUNT(*), 4)
         AS avg_logprob,
       COUNT(*) AS n_bigrams
FROM held h
LEFT JOIN c2 ON c2.w1 = h.w1 AND c2.w2 = h.w2
LEFT JOIN c1 ON c1.w1 = h.w1
CROSS JOIN v
GROUP BY h.doc_id
""",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram language-model scoring — text_unigram_logprob
    upgraded to a CONDITIONAL model with a real train/eval split:
    bigram and context counts come from the training docs only
    (doc_id % 7 ≠ 0 — the hash-split discipline of
    split_train_test), held-out docs are scored with add-1 smoothing
    ln((C(w1,w2)+1)/(C(w1)+V)), unseen contexts and pairs degrading
    gracefully through the same formula. This is the quality filter a
    curation stack actually deploys (score under a small LM), with the
    model trained inside the same engine pass.

    Scale: bigram explode is row-local (zip of shifted slices); the
    count joins key on w1/(w1,w2) — Zipf-skewed, so BOTH are routed
    head/tail like the unigram op: the top-_ZIPF_HEAD bigrams and
    contexts join broadcast (map-side, the bulk of held occurrences)
    and only head-misses reach the shuffled tail joins; the model
    tables (c2/c1) are lazily materialized since they feed both the
    head TakeOrdered and the tail join — exactly the artifacts a
    production run persists. V rides a 1-row cross join. ln sums
    ROUND(4) per the order-sensitive-float rule."""
    d = load_parallel(spark, sf_dir, "documents")
    t = "split(text, ' ')"
    bg = d.select(
        "doc_id",
        F.expr(
            f"explode(zip_with(slice({t}, 1, size({t}) - 1), "
            f"slice({t}, 2, size({t}) - 1), (a, b) -> struct(a AS w1, b AS w2)))"
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    # r12: bg fed FIVE plan branches (c2, c1, v twice, held) and each
    # re-ran the tokenize+zip+explode fact pass — checkpoint the bigram
    # frame ONCE; every model/eval frame below reads the materialized
    # blocks (guide §2.4).
    bg = pin(bg)
    train = bg.filter(F.col("doc_id") % _BGLM_HOLD != 0)
    c2 = pin(
        train.groupBy("w1", "w2").agg(F.count("*").alias("c")),
        eager=False,
    )
    c1 = pin(
        train.groupBy("w1").agg(F.count("*").alias("n")),
        eager=False,
    )
    # vocab = train w1-set ∪ w2-set. The w1 set IS c1's key set and the
    # w2 set IS c2's distinct w2 — counting over the model tables reads
    # two grain frames instead of two more fact passes; identical sets,
    # identical count.
    v = (
        c1.select("w1")
        .unionAll(c2.select(F.col("w2").alias("w1")))
        .agg(F.count_distinct("w1").alias("vsize"))
    )
    # held is consumed by two routed branches per join level — lazy
    # checkpoint so the filter of bg runs once, not once per branch
    held = pin(bg.filter(F.col("doc_id") % _BGLM_HOLD == 0), eager=False)

    def routed(fact: DataFrame, table: DataFrame, keys, val: str) -> DataFrame:
        """LEFT join fact→table with Zipf head/tail routing: head-hit
        rows take the broadcast join, head-miss rows (tail keys AND
        truly-absent keys) fall through to the shuffled join — per-row
        results identical to a single LEFT join against `table`.

        CONDITIONAL (r7, the degree-cap discipline): when the memoized
        vocabulary bound proves the whole model table fits the
        broadcast head (|vocab|^arity ≤ head), routing's
        filter/union/tail-join scaffolding is skipped for one plain
        broadcast LEFT join — same per-row results, four fewer
        operators; the oracle's single LEFT join is unconditional."""
        if vocab_n ** len(keys) <= _ZIPF_HEAD:
            return fact.join(F.broadcast(table), keys, "left")
        head = table.orderBy(F.desc(val), *keys).limit(_ZIPF_HEAD)
        hj = fact.join(F.broadcast(head), keys, "left")
        return hj.filter(F.col(val).isNotNull()).unionByName(
            hj.filter(F.col(val).isNull()).drop(val).join(table, keys, "left")
        )

    vocab_n = _distinct_token_count(spark, sf_dir)
    j2 = routed(held, c2, ["w1", "w2"], "c")
    j1 = routed(j2, c1, ["w1"], "n")
    lp = F.log(
        (F.coalesce("c", F.lit(0)) + 1.0)
        / (F.coalesce("n", F.lit(0)) + F.col("vsize"))
    )
    return (
        j1.join(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(lp) / F.count("*"), 4).alias("avg_logprob"),
            F.count("*").alias("n_bigrams"),
        )
    )


# ---------------------------------------------------------------------------
# Intra-document repetition metrics (the Gopher "repetitious text" rules)

_REP_DUP_MAX = 0.20  # keep: ≤20% of 3-gram occurrences are repeats
_REP_TOP_MAX = 0.10  # keep: the single most frequent 3-gram ≤10% of all


@query(
    "text_repetition_score",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
g AS (
  SELECT doc_id, unnest({{SH}}) AS shingle FROM toks
),
cnt AS (
  SELECT doc_id, shingle, COUNT(*) AS c FROM g GROUP BY 1, 2
),
per AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_grams,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(MAX(c) AS BIGINT) AS top_count
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_grams, n_distinct, top_count,
       CAST(n_grams - n_distinct AS DOUBLE) / n_grams AS dup_ratio,
       CAST(top_count AS DOUBLE) / n_grams AS top_frac,
       CASE WHEN CAST(n_grams - n_distinct AS DOUBLE) / n_grams
                   <= {_REP_DUP_MAX}
             AND CAST(top_count AS DOUBLE) / n_grams <= {_REP_TOP_MAX}
            THEN 1 ELSE 0 END AS keep
FROM per
""".replace("{SH}", SQL_SHINGLES3.format(toks="t")),
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition metrics — the Gopher-rule family
    text_quality_score does NOT cover (Rae et al. 2021 §A1.1: drop
    docs whose content is dominated by repeated n-grams; boilerplate,
    keyword stuffing, and degenerate generations all trip it, while
    length/stopword gates pass them). Per doc over word 3-grams:
    duplicated-occurrence fraction (1 − distinct/total) and the top
    single 3-gram's share, with the keep flag at the classic ≤20%/≤10%
    thresholds. Complements dedup_exact_substring (CROSS-doc repeats);
    this is WITHIN-doc.

    Determinism: both metrics are exact-integer ratios — never rounded
    (registry.py rules); the keep compare is against shared literals.
    Scale shape: explode → (doc, gram) partial-aggable count → per-doc
    rollup; both shuffles are keyed by doc-dominated keys (uniform),
    and nothing is cross-document — cost ∝ corpus tokens."""
    d = load_parallel(spark, sf_dir, "documents")
    g = d.select(
        "doc_id", F.explode(shingles3("text")).alias("shingle")
    )
    cnt = g.groupBy("doc_id", "shingle").agg(F.count("*").alias("c"))
    per = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.count("*").cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("top_count"),
    )
    dup = (F.col("n_grams") - F.col("n_distinct")).cast("double") / F.col(
        "n_grams"
    )
    top = F.col("top_count").cast("double") / F.col("n_grams")
    return per.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        "top_count",
        dup.alias("dup_ratio"),
        top.alias("top_frac"),
        ((dup <= _REP_DUP_MAX) & (top <= _REP_TOP_MAX))
        .cast("int")
        .alias("keep"),
    )


_ZIPF_SQL = f"""
WITH tok AS (
  SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
),
freq AS (
  SELECT token, COUNT(*) AS cnt FROM tok WHERE token != '' GROUP BY token
),
ranked AS (
  SELECT token, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank
  FROM freq
),
pts AS (
  SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
  FROM ranked
),
s AS (
  SELECT COUNT(*) AS n,
         {sql_dsum("x", DEC_FINE)} AS sx,
         {sql_dsum("y", DEC_FINE)} AS sy,
         {sql_dsum("x * y", DEC_FINE)} AS sxy,
         {sql_dsum("x * x", DEC_FINE)} AS sxx
  FROM pts
)
SELECT n AS n_types,
       ROUND(-(n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_exponent,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS ln_c
FROM s
"""


@query("text_zipf_fit", oracle=_ZIPF_SQL)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus unigram distribution: OLS of
    ln(count) on ln(rank) gives the Zipf exponent s in count ∝ rank^-s
    — natural language sits near s≈1, and a corpus whose exponent
    drifts (template spam flattens the tail, boilerplate floods the
    head) fails the fit long before per-document quality scores notice;
    it is THE one-number distributional health check a training-corpus
    intake runs (text_unigram_logprob scores documents against the
    distribution; this scores the distribution itself).

    Determinism: ranks are integers off a (cnt DESC, token) total
    order; ln() of integer-valued doubles is correctly rounded and
    engine-identical (transcendental ties are measure-zero); the OLS
    power sums accumulate in `DEC_FINE` so the
    fold is order-exact, and ROUND(6) absorbs the division chain.

    Scale: one token-keyed count (partial-agg), a K=vocab-row rank
    window, and a one-row reduce — fact rows are touched once; the fit
    runs on the vocabulary, whose size is corpus-sublinear (Heaps'
    law), so the window never sees fact cardinality."""
    d = load_parallel(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    pts = freq.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        dsum("x", DEC_FINE).alias("sx"),
        dsum("y", DEC_FINE).alias("sy"),
        dsum(F.col("x") * F.col("y"), DEC_FINE).alias("sxy"),
        dsum(F.col("x") * F.col("x"), DEC_FINE).alias("sxx"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_types"),
        F.round(-slope, 6).alias("zipf_exponent"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("ln_c"),
    )


_COMPRESS_SCHEMA = (
    "doc_id long, raw_len long, compressed_len long, compress_ratio double"
)


def _compress_batch(batches):
    """zlib level-6 per document — codec work, so necessarily Python,
    but Arrow-batched over mapInPandas (per-OBJECT loop, the multimodal
    modules' codec granularity) and emitting only scalars."""
    import zlib

    import pandas as pd

    for pdf in batches:
        raw = [len(t.encode("utf-8")) for t in pdf["text"]]
        comp = [len(zlib.compress(t.encode("utf-8"), 6)) for t in pdf["text"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "raw_len": pd.Series(raw, dtype="int64"),
                "compressed_len": pd.Series(comp, dtype="int64"),
                "compress_ratio": pd.Series(
                    [c / r if r else 1.0 for r, c in zip(raw, comp)],
                    dtype="float64",
                ),
            }
        )


def compress_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib-6 lengths and ratio — the raw quality signal a
    corpus filter thresholds on. The compressed length itself is not
    oracle-expressible (DuckDB has no zlib), so this detail frame is
    pinned by the pure-Python recompute parity test
    (tests/test_new_ops.py); the registered query below reduces it to
    an oracle-checkable contract."""
    d = load_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(_compress_batch, _COMPRESS_SCHEMA)


@query(
    "text_compress_ratio",
    oracle="""
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS raw_len,
       1 AS within_zlib_bounds,
       1 AS ratio_consistent
FROM documents
""",
)
def text_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal per document: zlib-6 bytes out
    over bytes in — the classic corpus filter (Gopher/RefinedWeb use
    exactly this): highly repetitive or templated text compresses far
    below natural prose, boilerplate floods under ~0.3, random noise
    sits near 1.0. Complements text_repetition_score (n-gram level)
    with whole-document redundancy that n-gram counters miss (long-
    range repeats).

    Contract-checked (r8 — promoted from rows-only per VERDICT r7
    item 4, the HLL accuracy-contract pattern): DuckDB cannot run
    zlib, but it CAN verify (a) the operator's byte accounting —
    raw_len must equal the oracle's own UTF-8 strlen per document —
    and (b) in-query flags whose truth the oracle states as literals:
    within_zlib_bounds pins every compressed length into deflate's
    hard envelope [6, raw + 5*ceil(raw/16383) + 6] (2-byte header +
    4-byte adler32 + 5 bytes per worst-case stored block), and
    ratio_consistent pins ratio == compressed/raw exactly. A codec
    regression, a mangled batch, or a length/ratio mismatch flips a
    flag on its row and fails the hash. The exact per-document lengths
    stay pinned by the pure-Python recompute test (compress_detail).

    Scale: row-local mapInPandas (Arrow batches, per-document codec
    loop, scalar output); zero shuffle — the flag reduction is
    row-local too."""
    d = compress_detail(spark, sf_dir)
    r, c = F.col("raw_len"), F.col("compressed_len")
    # max(r,1): an empty document still costs the 2-byte header + 4-byte
    # adler32 + one empty stored block (8 bytes total) — the envelope
    # must not collapse below it.
    envelope = (
        r
        + 5 * F.ceil(F.greatest(r, F.lit(1)) / F.lit(16383.0)).cast("long")
        + 6
    )
    # (c/r)*r is within 1 ulp of c, never off by 0.5 — and r=0 carries
    # the defined ratio 1.0, consistent by convention.
    consistent = (r == 0) | (
        F.abs(F.col("compress_ratio") * r.cast("double") - c.cast("double"))
        < F.lit(0.5)
    )
    return d.select(
        "doc_id",
        "raw_len",
        F.when((c >= 6) & (c <= envelope), 1).otherwise(0).cast("int")
        .alias("within_zlib_bounds"),
        F.when(consistent, 1).otherwise(0).cast("int")
        .alias("ratio_consistent"),
    )


_BP_CHUNK = 10    # words per chunk (dedup_paragraph's grain)
_BP_MIN_DOCS = 3  # a chunk in >= this many docs is boilerplate


_BP_SQL = f"""
WITH toks AS (
  SELECT doc_id, i - 1 AS pos, a[i] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
       LATERAL (SELECT UNNEST(generate_series(1, len(a))) AS i) g(i)
),
chunks AS (
  SELECT doc_id, pos // {_BP_CHUNK} AS cix,
         string_agg(tok, ' ' ORDER BY pos) AS chunk
  FROM toks GROUP BY 1, 2
),
freq AS (
  SELECT md5(chunk) AS h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM chunks GROUP BY 1
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN f.df >= {_BP_MIN_DOCS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_boiler,
       CAST(SUM(CASE WHEN f.df >= {_BP_MIN_DOCS} THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS boiler_share
FROM chunks c JOIN freq f ON f.h = md5(c.chunk)
GROUP BY 1
"""


@query("text_boilerplate_share", oracle=_BP_SQL)
def text_boilerplate_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate SHARE: the fraction of a document's
    10-word chunks that occur in >= 3 distinct documents — the
    template/navigation/footer signal the RefinedWeb-style filters
    threshold on. dedup_paragraph REWRITES the corpus (keeps first
    occurrences); this SCORES documents so a curation policy can
    drop, downweight, or route them — the flag-vs-rewrite split the
    MAD (flags) / winsorized (summarizes) families already follow.
    Documents that are pure template (share → 1) and pure original
    (share → 0) separate without touching any text.

    Determinism: chunking is the same positional string_agg ↔
    ordered-collect_list construction both engines (registry rule);
    frequency keys on md5(chunk); counts and the share are exact
    integers / integer-ratio doubles — bitwise, no rounding.

    Scale: chunking is map-side; document frequency is one
    partial-agg groupBy on the content hash (uniform by
    construction); the scoring join shuffles one row per chunk on the
    same hash key. Nothing pairwise, nothing quadratic."""
    d = load_parallel(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    chunks = (
        toks.withColumn("cix", F.expr(f"pos div {_BP_CHUNK}"))
        .groupBy("doc_id", "cix")
        .agg(
            F.expr(
                "concat_ws(' ', transform("
                "array_sort(collect_list(struct(pos, tok))), s -> s.tok))"
            ).alias("chunk")
        )
        .select("doc_id", "cix", F.md5("chunk").alias("h"))
    )
    freq = chunks.groupBy("h").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df")
    )
    boiler = (F.col("df") >= _BP_MIN_DOCS).cast("int")
    return (
        chunks.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum(boiler).cast("bigint").alias("n_boiler"),
            (F.sum(boiler).cast("double") / F.count("*")).alias(
                "boiler_share"
            ),
        )
    )


# One PLSA EM step (K topics) over the document-token matrix

_PLSA_K = 4
_PLSA_TOP = 5
_PLSA_LAT = 1_000_000

_PLSA_SQL = f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id AS d, token AS w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        FROM documents)
  GROUP BY 1, 2
),
ts AS (SELECT UNNEST([{', '.join(str(i) for i in range(_PLSA_K))}]) AS t),
pwt AS MATERIALIZED (
  SELECT w, t,
         1 + CAST('0x' || substring(md5(w || ':w' || t::VARCHAR), 1, 6)
                  AS BIGINT) % 999 AS a
  FROM (SELECT DISTINCT w FROM tok), ts
),
ptd AS MATERIALIZED (
  SELECT d, t,
         1 + CAST('0x' || substring(md5(d::VARCHAR || ':d' || t::VARCHAR),
                  1, 6) AS BIGINT) % 999 AS b
  FROM (SELECT DISTINCT d FROM tok), ts
),
e AS (
  SELECT tok.d, tok.w, pwt.t, tok.c, pwt.a * ptd.b AS num,
         SUM(pwt.a * ptd.b) OVER (PARTITION BY tok.d, tok.w) AS den
  FROM tok
  JOIN pwt ON pwt.w = tok.w
  JOIN ptd ON ptd.d = tok.d AND ptd.t = pwt.t
),
m AS (
  SELECT w, t,
         CAST(SUM(CAST(FLOOR(CAST(c * num AS DOUBLE) / den
                             * {_PLSA_LAT}) AS BIGINT)) AS BIGINT) AS s
  FROM e GROUP BY 1, 2
),
tot AS (
  SELECT t, CAST(SUM(s) AS BIGINT) AS st FROM m GROUP BY 1
),
r AS (
  SELECT m.w, m.t, m.s, tot.st,
         ROW_NUMBER() OVER (PARTITION BY m.t
                            ORDER BY m.s DESC, m.w) AS rnk
  FROM m JOIN tot ON tot.t = m.t
)
SELECT t AS topic, CAST(rnk AS BIGINT) AS rnk, w AS token,
       s AS weight_lat,
       CASE WHEN st > 0 THEN CAST(s AS DOUBLE) / st END AS p_w_given_t
FROM r WHERE rnk <= {_PLSA_TOP}
"""


@query("text_plsa_em_step", oracle=_PLSA_SQL)
def text_plsa_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM iteration of PLSA (probabilistic latent semantic
    analysis, Hofmann) with K = {_PLSA_K} topics over the corpus
    doc-token matrix, reporting each topic's top-{_PLSA_TOP} words —
    the TOPIC-MODEL member of the text family: text_tfidf scores
    words per document and text_keyword_extract per corpus, while the
    PLSA E-step computes the posterior topic responsibility
    γ(t|d,w) ∝ P(w|t)·P(t|d) per occurrence and the M-step
    re-estimates P(w|t) ∝ Σ_d c(d,w)·γ — the one-iteration kernel
    every topic/cluster pipeline loops (and the corpus-composition
    probe a training-data curator runs to see WHAT is in a crawl).

    Determinism: init weights are md5-lattice integers (1..999), so
    every E-step responsibility is an exact RATIONAL a·b/Σa·b of
    BIGINTs; each M-step term is FLOOR-quantized to the 1e6 lattice
    from the same IEEE double both engines (c·num ≤ 1e9 — exact in a
    double), making the topic-word sums exact BIGINTs with no float
    fold order; the top-word rank breaks score ties by token; the
    final share is an exact BIGINT ratio, guarded st > 0 (an all-
    floored-to-zero topic yields NULL identically — degencheck
    class). The γ denominator Σ_t a·b ≥ K > 0 by construction — that
    division cannot fire on zero.

    Scale: the doc-word matrix aggregates once (map-side explode, one
    (d,w) shuffle); the E-step is ROW-LOCAL — the init params are pure
    md5 functions of (w,t)/(d,t), so each (d,w) row computes its two
    K-vectors and the γ denominator in place (zero joins, zero
    windows; a LATER EM round, whose params come from the previous
    M-step, would broadcast the vocab-bounded word-topic frame and
    co-partition doc-topic on doc_id); the K responsibility terms
    posexplode map-side straight into the (w,t) partial aggregate.
    One iteration = one fact-grain pass + one vocab×K shuffle."""
    d = load_parallel(spark, sf_dir, "documents")
    tok = (
        d.select(
            F.col("doc_id").alias("d"),
            F.explode(F.split("text", " ")).alias("w"),
        )
        .groupBy("d", "w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    tok = pin(tok)  # feeds aw/bd distincts + E-step
    # r12 (guide §2.4 + §3.1): the r11 E-step paid two nnz×K SHUFFLE
    # equi-joins (tok⋈pwt on w, ⋈ptd on (d,t)) plus an nnz×K window
    # for the γ denominator — 4 fact-grain exchanges. The params are
    # topic-VECTORS per key, so ship each key's whole K-vector as one
    # array column (vocab- and doc-bounded frames, both broadcastable
    # — at 100 TB the doc side co-partitions instead), compute
    # den = Σ_t a·b with an exact BIGINT array aggregate row-locally
    # (identical to the window's integer sum — order-free), posexplode
    # the K num terms map-side, and partial-aggregate straight into
    # the (w, t) grain: zero pre-aggregate shuffles, zero windows.
    # Arrays are parsed-SQL transform() strings (the ivfpq plan-build
    # rule); a pure row-local form (md5 per (d,w,t) occurrence, no
    # joins at all) was measured a WASH — 2K·nnz hashes cost what the
    # joins did; hashing once per distinct key keeps K·(vocab+docs).
    # Every per-row value (num, den, c·num/den, the FLOOR lattice) is
    # the same BIGINT/IEEE arithmetic as the r11 form — bit-identical.
    aw = (
        f"transform(sequence(0, {_PLSA_K - 1}), t ->"
        " 1 + CAST(conv(substring(md5(concat(w, ':w',"
        " CAST(t AS STRING))), 1, 6), 16, 10) AS BIGINT) % 999) AS aw"
    )
    bd = (
        f"transform(sequence(0, {_PLSA_K - 1}), t ->"
        " 1 + CAST(conv(substring(md5(concat(CAST(d AS STRING), ':d',"
        " CAST(t AS STRING))), 1, 6), 16, 10) AS BIGINT) % 999) AS bd"
    )
    aw_arr = tok.select("w").distinct().selectExpr("w", aw)
    bd_arr = tok.select("d").distinct().selectExpr("d", bd)
    e = (
        tok.join(F.broadcast(aw_arr), "w")
        .join(F.broadcast(bd_arr), "d")
        .selectExpr(
            "w",
            "c",
            "zip_with(aw, bd, (x, y) -> x * y) AS nums",
        )
        .selectExpr(
            "w",
            "c",
            "nums",
            "aggregate(nums, CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            " AS den",
        )
    )
    m = pin(
        e.select(
            "w", "c", "den", F.posexplode("nums").alias("t", "num")
        )
        .groupBy("w", "t")
        .agg(
            F.sum(
                F.expr(
                    f"CAST(FLOOR(CAST(c * num AS DOUBLE) / den"
                    f" * {_PLSA_LAT}) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("s")
        ),
        eager=False,
        # vocab×K grain; feeds the topic-total agg AND the rank join
    )
    tot = m.groupBy("t").agg(F.sum("s").cast("bigint").alias("st"))
    w_rk = Window.partitionBy("t").orderBy(F.desc("s"), F.asc("w"))
    r = m.join(tot, "t").withColumn("rnk", F.row_number().over(w_rk))
    return r.filter(F.col("rnk") <= _PLSA_TOP).select(
        F.col("t").alias("topic"),
        F.col("rnk").cast("bigint").alias("rnk"),
        F.col("w").alias("token"),
        F.col("s").alias("weight_lat"),
        F.expr(
            "CASE WHEN st > 0 THEN CAST(s AS DOUBLE) / st END"
        ).alias("p_w_given_t"),
    )
