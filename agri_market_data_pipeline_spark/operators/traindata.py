"""Training-corpus assembly operators: deterministic splits, sequence
packing, and benchmark-contamination detection.

The reference pipeline stops at "publish cleaned rows"
(fetch_data.py:149-165); a corpus that feeds model training needs three
more moves, each of which must be reproducible run-to-run and shard-
parallel at 100 TB:

- ``split_train_test``: hash-based train/val/test assignment — a pure
  function of the stable doc_id, never of row order or RNG state, so
  any re-run (or any engine) reproduces the exact split and a document
  can never migrate between splits as the corpus grows.
- ``pack_sequences``: fixed-capacity greedy packing of documents into
  training sequences by running token count, sharded so packing is
  embarrassingly parallel.
- ``dedup_contamination``: n-gram overlap between the training corpus
  and a held-out benchmark set — the eval-integrity audit every corpus
  release runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import DEC, DEC_WIDE, dsum, sql_dsum
from ..functions.text import SQL_SHINGLES3, shingles3, tokens
from ..memo import pin
from ..registry import query
from ..tables import load_parallel
from .dedup import _MINHASH_CTE

# 100-cell hash lattice → 90/5/5 split
_SPLIT_TRAIN, _SPLIT_VAL = 90, 95


@query(
    "split_train_test",
    oracle=f"""
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
              AS BIGINT) % 100 AS cell
  FROM documents
)
SELECT CASE WHEN cell < {_SPLIT_TRAIN} THEN 'train'
            WHEN cell < {_SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM b GROUP BY 1
""",
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split: each doc lands in the
    cell md5(doc_id) mod 100 — a pure function of the stable id, so the
    split survives re-runs, engine changes, and corpus growth (new docs
    hash into cells without moving old ones; splitting on row_number or
    rand() fails all three). Returns per-split count plus an id-sum
    checksum so the oracle verifies the MEMBERSHIP, not just the sizes.

    At 100 TB this is a row-local projection — no shuffle at all until
    the audit's 3-group count; the split column is virtual and costs
    nothing to carry."""
    d = load_parallel(spark, sf_dir, "documents")
    cell = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(cell < _SPLIT_TRAIN, "train")
        .when(cell < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


_PACK_SHARDS = 32
_PACK_CAPACITY = 512  # tokens per training sequence


@query(
    "pack_sequences",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         doc_id % {_PACK_SHARDS} AS shard,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
), c AS (
  SELECT shard, doc_id, n_tok,
         SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok AS tok_before
  FROM t
), s AS (
  SELECT shard, doc_id, n_tok,
         CAST(FLOOR(tok_before / {_PACK_CAPACITY}) AS BIGINT) AS seq_id
  FROM c
)
SELECT shard, seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS seq_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM s GROUP BY shard, seq_id
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: concatenate documents in doc_id order
    and open a new training sequence each time the running token count
    crosses a 512-token boundary (a doc belongs to the
    sequence its FIRST token falls in — the concat-and-chop assignment
    GPT-style loaders use). Packing runs independently inside
    32 hash shards: the running sum is a window per shard,
    so at 100 TB every shard packs in parallel and no global order is
    ever materialized — exactly how a multi-worker tokenizer shards the
    corpus. Output is the per-sequence manifest (doc count, token
    count, id range) a loader would consume.

    The window's ORDER BY doc_id is a unique total order per shard
    (registry.py tiebreaker rule), making the running sum — and hence
    every sequence boundary — bit-deterministic on both engines."""
    d = load_parallel(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(tokens("text")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("tok_before", F.sum("n_tok").over(w) - F.col("n_tok"))
    s = c.withColumn(
        "seq_id",
        F.floor(F.col("tok_before") / _PACK_CAPACITY).cast("long"),
    )
    return s.groupBy("shard", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_BENCH_MOD = 97  # doc_id % 97 == 0 plays the held-out benchmark set


@query(
    "dedup_contamination",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id, unnest({SQL_SHINGLES3.format(toks='t')}) AS shingle
  FROM toks
), bench AS (
  SELECT DISTINCT doc_id AS bench_id, shingle FROM sh
  WHERE doc_id % {_BENCH_MOD} = 0
), train AS (
  SELECT DISTINCT doc_id AS train_id, shingle FROM sh
  WHERE doc_id % {_BENCH_MOD} != 0
)
SELECT b.bench_id,
       COUNT(DISTINCT b.shingle) AS n_hit_shingles,
       COUNT(DISTINCT t.train_id) AS n_contaminating_docs
FROM bench b JOIN train t ON b.shingle = t.shingle
GROUP BY b.bench_id
""",
)
def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: which held-out eval documents
    (stand-in: doc_id ≡ 0 mod 97) share word-3-gram shingles
    with the training corpus, and with how many training docs — the
    eval-integrity check every corpus release runs before a benchmark
    number is believed. Reports per-benchmark-doc hit counts; a clean
    corpus returns zero rows.

    Scale shape: the benchmark side is tiny by construction (an eval
    suite is thousands of docs, the corpus is billions), so its
    distinct shingle set BROADCASTS and the training side never
    shuffles — one scan, a broadcast-hash semi-style join, then a small
    aggregation keyed by (bench_id, shingle). The quadratic risk of
    joining on hot shingles is bounded the same way
    dedup_ngram_jaccard caps stop-shingles: here the join output is at
    most |bench shingles| × docs-per-shingle, and common-phrase noise
    is visible in the per-doc counts rather than silently dropped."""
    d = load_parallel(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(shingles3("text")).alias("shingle")
    )
    bench = (
        sh.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.col("doc_id").alias("bench_id"), "shingle")
        .distinct()
    )
    train = (
        sh.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .select(F.col("doc_id").alias("train_id"), "shingle")
        .distinct()
    )
    return (
        F.broadcast(bench)
        .join(train, "shingle")
        .groupBy("bench_id")
        .agg(
            F.count_distinct("shingle").alias("n_hit_shingles"),
            F.count_distinct("train_id").alias("n_contaminating_docs"),
        )
    )


_VOCAB_K = 200


@query(
    "text_vocab_build",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
),
v AS (
  SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
  FROM tok GROUP BY token
),
r AS (
  SELECT token, tf, df,
         ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rank
  FROM v
)
SELECT token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {_VOCAB_K}
""",
)
def text_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary construction: the top-200 corpus
    tokens by term frequency, with document frequency alongside — the
    count table a BPE/unigram tokenizer trainer starts from, and the
    vocabulary-coverage audit every corpus release publishes.

    Scale shape: explode → two-level aggregation. The token explode is
    map-side; the (token) groupBy partial-aggregates before its one
    shuffle, so the exchange carries |vocab| rows per partition, not
    |corpus tokens|. df rides the same aggregation via count_distinct
    (exact here; the sketch twin is agg_approx_count_distinct). The
    global top-k is TakeOrderedAndProject — per-partition heaps of k,
    never a full sort — and ranks are assigned AFTER the k-row cut, so
    the window runs over 200 rows, not the vocabulary."""
    d = load_parallel(spark, sf_dir, "documents")
    v = (
        d.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("tf"),
            F.count_distinct("doc_id").alias("df"),
        )
    )
    top = v.orderBy(F.desc("tf"), F.asc("token")).limit(_VOCAB_K)
    w = Window.orderBy(F.desc("tf"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


# Target mixture for the training slice: weights over language domains.
# floor(w · K) docs per language; a language short of its target simply
# contributes all it has (identical semantics on both engines).
_MIX_K = 200
_MIX_WEIGHTS = {"en": 0.40, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}


def _mix_targets() -> dict[str, int]:
    return {lang: int(w * _MIX_K) for lang, w in _MIX_WEIGHTS.items()}


_MIX_VALUES = ", ".join(
    f"('{lang}', {n})" for lang, n in sorted(_mix_targets().items())
)


@query(
    "mix_domains",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
),
t(lang, n) AS (VALUES {_MIX_VALUES})
SELECT r.doc_id, r.lang, CAST(r.rn AS BIGINT) AS rn
FROM ranked r JOIN t ON t.lang = r.lang AND r.rn <= t.n
""",
)
def mix_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: compose a 200-doc training slice
    to target language proportions ({'en': 0.4, 'de': 0.15, 'es': 0.15, 'fr': 0.15, 'zh': 0.15}) by taking the first
    floor(w·K) documents per language in deterministic md5 order — the
    dataset-composition step (weights from scaling-law or ablation
    studies) run by every corpus release. Hash-ordering makes the
    selection a pure function of doc_id: re-runs, engines, and corpus
    append order all reproduce the same slice, and a document never
    enters or leaves the mix because unrelated rows arrived
    (split_train_test's stability argument, applied to sampling).

    Scale shape: one window per language partition — the rank shuffle
    is by lang; with few giant domains the refinement is the two-level
    rank (per-shard heads then merge) or per-domain approx-quantile
    cutoffs on the hash, both shuffle-free on the fact side. The target
    table is a literal broadcast join."""
    d = load_parallel(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.asc("doc_id")
    )
    ranked = d.select(
        "doc_id", "lang", F.row_number().over(w).cast("long").alias("rn")
    )
    targets = spark.createDataFrame(
        sorted(_mix_targets().items()), "lang string, n int"
    )
    return (
        ranked.join(F.broadcast(targets), "lang")
        .filter(F.col("rn") <= F.col("n"))
        .select("doc_id", "lang", "rn")
    )


# ---------------------------------------------------------------------------
# Point-in-time-correct feature join (the feature-store anti-leakage rule)

_PIT_7D_US = 7 * 86_400_000_000  # 7 days in integral microseconds


@query(
    "ml_pit_features",
    oracle=f"""
WITH perts AS (
  SELECT user_id, epoch_us(ts) AS tus, COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(value * 1e4) AS BIGINT)) AS BIGINT) AS sv
  FROM events GROUP BY 1, 2),
feat AS (
  SELECT user_id, tus,
         CAST(COALESCE(SUM(n) OVER wprior, 0) AS BIGINT) AS n_prior,
         CAST(COALESCE(SUM(sv) OVER wprior, 0) AS BIGINT) AS sv_prior,
         CAST(COALESCE(SUM(n) OVER w7, 0) AS BIGINT) AS n_7d,
         MIN(tus) OVER (PARTITION BY user_id) AS t0
  FROM perts
  WINDOW wprior AS (PARTITION BY user_id ORDER BY tus
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         w7 AS (PARTITION BY user_id ORDER BY tus
                RANGE BETWEEN {_PIT_7D_US} PRECEDING AND 1 PRECEDING)),
labels AS (
  SELECT event_id, user_id, epoch_us(ts) AS tus FROM events
  WHERE event_type = 'purchase')
SELECT l.event_id, l.user_id, f.n_prior,
       CAST(f.sv_prior AS DOUBLE) / 1e4 AS sum_prior,
       f.n_7d,
       CAST((l.tus - f.t0) // 86400000000 AS BIGINT) AS day_idx
FROM labels l
JOIN feat f ON l.user_id = f.user_id AND l.tus = f.tus
""",
)
def ml_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME-correct feature join — the feature-store rule
    that prevents label leakage: for every label event (a purchase),
    the features are computed ONLY from the user's history STRICTLY
    BEFORE the label's timestamp (lifetime count/spend, 7-day count,
    account age in days). Strictly-before is made exact by
    pre-aggregating per (user, µs-timestamp) — distinct-ts rows turn
    the ROWS ... 1 PRECEDING frame into exactly 'ts < label.ts', with
    no same-instant ambiguity; the 7-day window is an integral-µs
    RANGE frame (unix_micros ↔ epoch_us, win_sessionize's rule —
    float seconds would mis-order near-tie gaps). A purchase at the
    user's first-ever event gets all-zero features, not a peek at
    itself. Fully oracle-checked per label row.

    Scale: one shuffle on user_id shared by the per-ts pre-agg, both
    window frames and the label join (co-partitioned); per-user
    history is bounded, so no skew. At 100 TB this materializes the
    training matrix straight out of the event log — the alternative
    (joining a separately-maintained feature snapshot) is where
    leakage bugs live."""
    ev = load_parallel(spark, sf_dir, "events")
    perts = (
        ev.select(
            "user_id",
            F.unix_micros("ts").alias("tus"),
            F.floor(F.col("value") * 1e4).cast("long").alias("lv"),
        )
        .groupBy("user_id", "tus")
        .agg(
            F.count("*").alias("n"),
            F.sum("lv").cast("long").alias("sv"),
        )
    )
    wprior = (
        Window.partitionBy("user_id")
        .orderBy("tus")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w7 = (
        Window.partitionBy("user_id")
        .orderBy("tus")
        .rangeBetween(-_PIT_7D_US, -1)
    )
    feat = perts.select(
        "user_id",
        "tus",
        F.coalesce(F.sum("n").over(wprior), F.lit(0))
        .cast("long")
        .alias("n_prior"),
        F.coalesce(F.sum("sv").over(wprior), F.lit(0))
        .cast("long")
        .alias("sv_prior"),
        F.coalesce(F.sum("n").over(w7), F.lit(0)).cast("long").alias("n_7d"),
        F.min("tus").over(Window.partitionBy("user_id")).alias("t0"),
    )
    labels = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("tus")
    )
    return labels.join(feat, ["user_id", "tus"]).select(
        "event_id",
        "user_id",
        "n_prior",
        (F.col("sv_prior").cast("double") / 1e4).alias("sum_prior"),
        "n_7d",
        F.expr("(tus - t0) div 86400000000").cast("long").alias("day_idx"),
    )


@query(
    "sample_contrastive_pairs",
    oracle=_MINHASH_CTE
    + """
, pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
nd AS (SELECT COUNT(*) AS n FROM documents),
neg0 AS (
  SELECT p.doc_a,
         CAST(('0x' || substring(md5('neg:' || CAST(p.doc_a AS VARCHAR)
                 || ':' || CAST(p.doc_b AS VARCHAR)), 1, 8)) AS BIGINT)
           % nd.n AS doc_b
  FROM pairs p CROSS JOIN nd
),
neg AS (
  SELECT n.doc_a, n.doc_b FROM neg0 n
  WHERE n.doc_b != n.doc_a
    AND NOT EXISTS (
      SELECT 1 FROM pairs p
      WHERE p.doc_a = LEAST(n.doc_a, n.doc_b)
        AND p.doc_b = GREATEST(n.doc_a, n.doc_b))
)
SELECT doc_a, doc_b, CAST(1 AS BIGINT) AS label FROM pairs
UNION ALL
SELECT doc_a, doc_b, CAST(0 AS BIGINT) AS label FROM neg
""",
)
def sample_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training pairs for embedding-model training:
    positives are the LSH near-dup candidate pairs (documents that
    share a MinHash band — the same signal dedup uses, reused as a
    similarity label), negatives are md5-derived pseudo-random
    partners (one per positive, so classes stay ~balanced) with
    accidental positives removed by an anti-join against the pair
    set. Fully deterministic — no RNG state — and fully
    oracle-checked including the signature pipeline.

    Scale: positives come from the banded equi-join (sub-quadratic,
    dedup_near_minhash's shape); negative generation is row-local
    hashing plus one more band-key-sized anti-join. The 1-row corpus
    count broadcasts."""
    from .dedup import dedup_near_minhash_pairs

    d = load_parallel(spark, sf_dir, "documents")
    pairs = pin(dedup_near_minhash_pairs(spark, sf_dir))
    nd = d.agg(F.count("*").alias("n"))
    neg0 = pairs.join(F.broadcast(nd)).select(
        "doc_a",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("neg:"),
                            F.col("doc_a").cast("string"),
                            F.lit(":"),
                            F.col("doc_b").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("n")
        ).alias("doc_b"),
    )
    pk = pairs.select(
        F.col("doc_a").alias("ka"), F.col("doc_b").alias("kb")
    )
    neg = (
        neg0.filter(F.col("doc_b") != F.col("doc_a"))
        .join(
            pk,
            (F.least("doc_a", "doc_b") == F.col("ka"))
            & (F.greatest("doc_a", "doc_b") == F.col("kb")),
            "leftanti",
        )
    )
    return pairs.select(
        "doc_a", "doc_b", F.lit(1).cast("long").alias("label")
    ).unionByName(
        neg.select("doc_a", "doc_b", F.lit(0).cast("long").alias("label"))
    )


# ---------------------------------------------------------------------------
# Temperature-scaled domain mixing (the multilingual/LLM sampling rule)

_TEMP_TAU = 0.7  # the canonical multilingual-sampling temperature
_TEMP_K = 100_000  # budget (docs) the weights are materialized against


@query(
    "mix_temperature",
    oracle=f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
),
powed AS (
  SELECT lang, n_docs, POWER(n_docs, {_TEMP_TAU}) AS p FROM counts
),
tot AS (SELECT SUM(p) AS sp FROM powed)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       ROUND(p / sp, 6) AS weight,
       CAST(FLOOR({_TEMP_K} * ROUND(p / sp, 6)) AS BIGINT) AS target_docs
FROM powed, tot
""",
)
def mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain sampling weights — the standard
    multilingual/LLM corpus-mixing rule (p_i ∝ n_i^τ, τ=0.7):
    upsamples low-resource domains relative to their natural share
    without flattening to uniform. Emits per domain its natural count,
    the temperature weight, and the materialized doc budget at
    K=100,000. mix_domains consumes weights like these; this
    operator is where they come from.

    Parity: POWER/libm differs in the last ulp across engines, so the
    weight is ROUNDed to 6 on both sides BEFORE the budget floor —
    identical rounded doubles make FLOOR(K·w) identical (registry.py
    rules). Scale shape: one partial-aggregable count per domain; the
    power/normalize step runs over |domains| rows."""
    d = load_parallel(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    powed = counts.withColumn("p", F.pow("n_docs", F.lit(_TEMP_TAU)))
    tot = powed.agg(F.sum("p").alias("sp"))
    w = F.round(F.col("p") / F.col("sp"), 6)
    return powed.join(F.broadcast(tot)).select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        w.alias("weight"),
        F.floor(F.lit(_TEMP_K) * w).cast("long").alias("target_docs"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty of an incoming batch vs the corpus index

_NOV_MOD = 10  # batch = doc_id % _NOV_MOD == _NOV_REM (~10% "new arrivals")
_NOV_REM = 7


@query(
    "text_ngram_novelty",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest({{SQL_SHINGLES3}}) AS shingle FROM toks
  )
),
b AS (SELECT * FROM sh WHERE doc_id % {_NOV_MOD} = {_NOV_REM}),
c AS (SELECT DISTINCT shingle FROM sh
      WHERE doc_id % {_NOV_MOD} != {_NOV_REM})
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN c.shingle IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       SUM(CASE WHEN c.shingle IS NULL THEN 1 ELSE 0 END) / COUNT(*)
         AS novelty
FROM b LEFT JOIN c USING (shingle)
GROUP BY b.doc_id
""".replace("{SQL_SHINGLES3}", SQL_SHINGLES3.format(toks="t")),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch novelty scoring — how much of an incoming batch's content
    is NEW versus the already-indexed corpus, per document: the
    data-valuation/dedup-triage metric a training pipeline uses to
    decide whether a crawl refresh is worth keeping. Per batch doc
    (doc_id % 10 == 7, ~10% 'new arrivals'): distinct word-3-grams,
    how many never occur in any corpus doc, and their ratio (exact
    integer division — never rounded, registry.py rules).

    Scale shape: same as dedup_incremental — the corpus side is a
    stored distinct-shingle index; the batch probes it with one
    anti-join-shaped LEFT JOIN keyed by shingle (uniform md5-ish keys,
    skew-free). Cost ∝ |batch shingles| + one index lookup each; the
    corpus is never rescanned per batch in production."""
    d = load_parallel(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(shingles3("text")).alias("shingle")
    ).distinct()
    is_batch = F.col("doc_id") % _NOV_MOD == _NOV_REM
    b = sh.filter(is_batch)
    c = sh.filter(~is_batch).select("shingle").distinct()
    cf = c.withColumn("seen", F.lit(1))
    return (
        b.join(cf, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (F.col("n_novel") / F.col("n_grams")).alias("novelty"),
        )
    )


# Naive-Bayes split: train on cells < _SPLIT_TRAIN, score cells >= _SPLIT_VAL
# (the same 100-cell md5 lattice as split_train_test — the classifier's
# held-out set IS the corpus's test split).
_NB_LATTICE = 1_000_000  # 1e-6 log-prob lattice (registry ROUND-for-ln rule)


@query(
    "ml_naive_bayes",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
              AS BIGINT) % 100 AS cell
  FROM documents
),
tr AS (SELECT * FROM d WHERE cell < {_SPLIT_TRAIN}),
te AS (SELECT * FROM d WHERE cell >= {_SPLIT_VAL}),
trtok AS (
  SELECT lang, UNNEST(toks) AS token FROM tr
),
cnt AS (
  SELECT lang, token, COUNT(*) AS c FROM trtok WHERE token <> '' GROUP BY 1, 2
),
tot AS (
  SELECT lang, COUNT(*) AS t FROM trtok WHERE token <> '' GROUP BY 1
),
vocab AS (SELECT DISTINCT token FROM trtok WHERE token <> ''),
vsz AS (SELECT COUNT(*) AS v FROM vocab),
prior AS (
  SELECT lang,
         CAST(ROUND(LN(CAST(COUNT(*) AS DOUBLE)
                       / (SELECT COUNT(*) FROM tr)) * {_NB_LATTICE})
              AS BIGINT) AS prior6
  FROM tr GROUP BY 1
),
lp AS (
  SELECT w.token, t.lang,
         CAST(ROUND(LN((COALESCE(c.c, 0) + 1)
                       / CAST(t.t + s.v AS DOUBLE)) * {_NB_LATTICE})
              AS BIGINT) AS lp6
  FROM vocab w CROSS JOIN tot t CROSS JOIN vsz s
  LEFT JOIN cnt c ON c.token = w.token AND c.lang = t.lang
),
tetok AS (
  SELECT doc_id, lang AS actual, UNNEST(toks) AS token FROM te
),
score AS (
  SELECT k.doc_id, k.actual, l.lang AS cls, SUM(l.lp6) AS s6
  FROM tetok k JOIN lp l ON l.token = k.token
  GROUP BY 1, 2, 3
),
pred AS (
  SELECT sc.doc_id, sc.actual, sc.cls,
         ROW_NUMBER() OVER (PARTITION BY sc.doc_id
                            ORDER BY sc.s6 + p.prior6 DESC, sc.cls ASC) AS rn
  FROM score sc JOIN prior p ON p.lang = sc.cls
)
SELECT actual AS actual_lang, cls AS predicted_lang, COUNT(*) AS n_docs
FROM pred WHERE rn = 1
GROUP BY 1, 2
""",
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language classifier, trained and scored
    in one DAG: Laplace-smoothed token likelihoods are fit on the
    deterministic train split (same md5 cell lattice as
    `split_train_test`), held-out docs get argmax_c [ln P(c) + sum_t
    ln P(t|c)], and the result is the confusion matrix
    (actual x predicted doc counts). The generative-counts complement to
    `ml_logreg_quality`'s iterative discriminative fit — NB is pure
    relational algebra (two grouped counts + one join + one argmax), so
    unlike gradient descent it IS oracle-checkable end to end. (On the
    driver testdata the lang column is statistically independent of the
    text, so the matrix here is near-chance by construction; that the
    classifier learns when signal exists is pinned by the
    planted-corpus test in tests/test_new_ops.py.)

    Cross-engine determinism: every ln is evaluated on an exact integer
    ratio, scaled to the 1e-6 lattice and ROUNDed to a BIGINT on both
    engines (registry ROUND-for-ln rule); per-doc scores then sum
    INTEGERS, so addition order cannot perturb the argmax, and the
    argmax itself tiebreaks on class name via row_number. Out-of-vocab
    test tokens drop on both sides (inner join to the trained table);
    docs with zero in-vocab tokens are unscorable and excluded by the
    same inner join.

    Scale shape: training is one shuffle keyed (lang, token) with
    map-side partial counts; the dense likelihood table is
    |vocab| x |classes| — broadcast here, and at real-corpus vocab it is
    top-V capped (standard NB practice) to stay broadcastable; scoring
    is a broadcast join + partial-agg groupBy(doc, class); the argmax
    window partitions by doc_id (never global). Nothing quadratic,
    nothing iterative, no Python UDF."""
    d = load_parallel(spark, sf_dir, "documents")
    cell = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    d = d.withColumn("cell", cell)
    tr = d.filter(F.col("cell") < _SPLIT_TRAIN)
    te = d.filter(F.col("cell") >= _SPLIT_VAL)

    trtok = tr.select(
        "lang", F.explode(tokens("text")).alias("token")
    ).filter(F.col("token") != "")
    cnt = trtok.groupBy("lang", "token").agg(F.count("*").alias("c"))
    tot = trtok.groupBy("lang").agg(F.count("*").alias("t"))
    vocab = trtok.select("token").distinct()
    vsz = vocab.agg(F.count("*").alias("v"))
    n_train = tr.agg(F.count("*").alias("n_tr"))
    prior = (
        tr.groupBy("lang")
        .agg(F.count("*").alias("nc"))
        .crossJoin(F.broadcast(n_train))
        .select(
            "lang",
            F.round(
                F.log(F.col("nc").cast("double") / F.col("n_tr"))
                * _NB_LATTICE
            )
            .cast("long")
            .alias("prior6"),
        )
    )
    lp = (
        vocab.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vsz))
        .join(F.broadcast(cnt), ["token", "lang"], "left")
        .select(
            "token",
            "lang",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1)
                    / (F.col("t") + F.col("v")).cast("double")
                )
                * _NB_LATTICE
            )
            .cast("long")
            .alias("lp6"),
        )
    )

    tetok = te.select(
        "doc_id",
        F.col("lang").alias("actual"),
        F.explode(tokens("text")).alias("token"),
    )
    score = (
        tetok.join(F.broadcast(lp), "token")
        .groupBy("doc_id", "actual", F.col("lang").alias("cls"))
        .agg(F.sum("lp6").alias("s6"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score6").desc(), F.col("cls").asc()
    )
    pred = (
        score.join(F.broadcast(prior), score.cls == prior.lang)
        .select(
            "doc_id",
            "actual",
            "cls",
            (F.col("s6") + F.col("prior6")).alias("score6"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return pred.groupBy(
        F.col("actual").alias("actual_lang"),
        F.col("cls").alias("predicted_lang"),
    ).agg(F.count("*").alias("n_docs"))


_STUMP_BUCKETS = 32


@query(
    "ml_dt_stump",
    oracle=f"""
WITH m AS (
  SELECT 'disc' AS feature, l_discount AS v,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem
  UNION ALL
  SELECT 'price', l_extendedprice,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
  UNION ALL
  SELECT 'qty', l_quantity,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
),
rng AS (SELECT feature, MIN(v) AS lo, MAX(v) AS hi FROM m GROUP BY 1),
b AS (
  SELECT m.feature,
         CASE WHEN r.hi = r.lo THEN 0
              ELSE LEAST(CAST(FLOOR((m.v - r.lo)
                              / ((r.hi - r.lo) / {_STUMP_BUCKETS}.0)) AS BIGINT),
                         {_STUMP_BUCKETS - 1}) END AS bucket,
         m.y, r.lo, r.hi
  FROM m JOIN rng r USING (feature)
),
g AS (
  SELECT feature, bucket, lo, hi,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM b GROUP BY 1, 2, 3, 4
),
cum AS (
  SELECT feature, bucket, lo, hi,
         CAST(SUM(n) OVER w AS BIGINT) AS nl,
         CAST(SUM(pos) OVER w AS BIGINT) AS posl,
         CAST(SUM(n) OVER p AS BIGINT) AS nt,
         CAST(SUM(pos) OVER p AS BIGINT) AS post
  FROM g
  WINDOW w AS (PARTITION BY feature ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         p AS (PARTITION BY feature)
),
gain AS (
  SELECT feature, bucket, lo, hi, nl, posl,
         nt - nl AS nr, post - posl AS posr,
         (1.0 - (CAST(post AS DOUBLE) / nt) * (CAST(post AS DOUBLE) / nt)
              - (CAST(nt - post AS DOUBLE) / nt) * (CAST(nt - post AS DOUBLE) / nt))
         - ((CAST(nl AS DOUBLE) / nt)
            * (1.0 - (CAST(posl AS DOUBLE) / nl) * (CAST(posl AS DOUBLE) / nl)
                   - (CAST(nl - posl AS DOUBLE) / nl) * (CAST(nl - posl AS DOUBLE) / nl))
            + (CAST(nt - nl AS DOUBLE) / nt)
            * (1.0 - (CAST(post - posl AS DOUBLE) / (nt - nl)) * (CAST(post - posl AS DOUBLE) / (nt - nl))
                   - (CAST((nt - nl) - (post - posl) AS DOUBLE) / (nt - nl))
                     * (CAST((nt - nl) - (post - posl) AS DOUBLE) / (nt - nl))))
           AS gain
  FROM cum WHERE nl < nt
),
best AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY gain DESC, feature ASC, bucket ASC) AS rn
  FROM gain
)
SELECT feature, bucket AS split_bucket,
       lo + (bucket + 1) * ((hi - lo) / {_STUMP_BUCKETS}.0) AS threshold,
       gain, nl AS n_left, posl AS pos_left, nr AS n_right, posr AS pos_right
FROM best WHERE rn = 1
""",
)
def ml_dt_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump trainer: the best single (feature, threshold)
    split of lineitem rows on the returned-flag label by Gini impurity
    reduction — the missing tree member of the engine's ML corner
    (k-means, logreg, NB) and the base learner every boosted-ensemble
    pipeline starts from.

    Split search is the classic histogram method (the same move
    LightGBM/XGBoost 'hist' makes to scale): each feature is quantized
    onto a 32-bucket min/max lattice, so candidate
    thresholds come from ONE pass of exact (n, n_pos) bucket counts —
    cumulative sums over a feature-partitioned window then price every
    left/right split in closed form. Cost is one melt scan + one
    (feature, bucket) shuffle with map-side partials, independent of row
    count beyond the scan; the final argmax window ranks the
    3 x 32-row post-aggregate candidate table (bounded, so
    the zero-partition window is legal under the plan walker).

    Cross-engine determinism: bucket ids come from one IEEE divide/floor
    chain on exact min/max (no transcendentals), counts are exact
    BIGINTs, and the Gini gain is a FIXED expression tree over exact
    integer ratios — correctly-rounded IEEE ops only (x*x, never pow),
    hence bitwise-equal on both engines and shipped unrounded; ties
    break on (feature, bucket)."""
    li = load_parallel(spark, sf_dir, "lineitem")
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y")
    m = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("disc").alias("feature"),
                    F.col("l_discount").alias("v"),
                ),
                F.struct(
                    F.lit("price").alias("feature"),
                    F.col("l_extendedprice").alias("v"),
                ),
                F.struct(
                    F.lit("qty").alias("feature"),
                    F.col("l_quantity").alias("v"),
                ),
            )
        ).alias("fv"),
        y,
    ).select("fv.feature", "fv.v", "y")
    rng = m.groupBy("feature").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    nb = F.lit(float(_STUMP_BUCKETS))
    b = m.join(F.broadcast(rng), "feature").select(
        "feature",
        "lo",
        "hi",
        # constant feature → single bucket 0 (nl == nt, so it can never
        # be picked as a split; without the guard 0/0 = NaN buckets
        # diverge between engines)
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("v") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / nb)
                ).cast("long"),
                F.lit(_STUMP_BUCKETS - 1).cast("long"),
            )
        )
        .alias("bucket"),
        "y",
    )
    g = b.groupBy("feature", "bucket", "lo", "hi").agg(
        F.count("*").alias("n"), F.sum("y").cast("long").alias("pos")
    )
    w_cum = (
        Window.partitionBy("feature")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("feature")
    cum = g.select(
        "feature",
        "bucket",
        "lo",
        "hi",
        F.sum("n").over(w_cum).alias("nl"),
        F.sum("pos").over(w_cum).alias("posl"),
        F.sum("n").over(w_tot).alias("nt"),
        F.sum("pos").over(w_tot).alias("post"),
    ).filter(F.col("nl") < F.col("nt"))

    def _gini(p: Column, q: Column) -> Column:
        return F.lit(1.0) - p * p - q * q

    nt_d = F.col("nt").cast("double")
    nl_d = F.col("nl").cast("double")
    nr = F.col("nt") - F.col("nl")
    posr = F.col("post") - F.col("posl")
    gini_p = _gini(
        F.col("post").cast("double") / F.col("nt"),
        (F.col("nt") - F.col("post")).cast("double") / F.col("nt"),
    )
    gini_l = _gini(
        F.col("posl").cast("double") / F.col("nl"),
        (F.col("nl") - F.col("posl")).cast("double") / F.col("nl"),
    )
    gini_r = _gini(
        posr.cast("double") / nr,
        (nr - posr).cast("double") / nr,
    )
    gain = gini_p - (
        nl_d / F.col("nt") * gini_l + nr.cast("double") / F.col("nt") * gini_r
    )
    scored = cum.select(
        "feature",
        "bucket",
        "lo",
        "hi",
        "nl",
        "posl",
        nr.alias("nr"),
        posr.alias("posr"),
        gain.alias("gain"),
    )
    w_best = Window.orderBy(
        F.col("gain").desc(), F.col("feature").asc(), F.col("bucket").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "feature",
            F.col("bucket").alias("split_bucket"),
            (
                F.col("lo")
                + (F.col("bucket") + 1) * ((F.col("hi") - F.col("lo")) / nb)
            ).alias("threshold"),
            "gain",
            F.col("nl").alias("n_left"),
            F.col("posl").alias("pos_left"),
            F.col("nr").alias("n_right"),
            F.col("posr").alias("pos_right"),
        )
    )


_RIDGE_LAMBDA = 10.0  # L2 penalty (fixed; the knob a CV loop would tune)

_RIDGE_SQL = f"""
WITH s AS (
  SELECT l_returnflag AS grp,
         COUNT(*) AS n,
         {sql_dsum("l_quantity")} AS sx1,
         {sql_dsum("l_discount")} AS sx2,
         {sql_dsum("l_extendedprice")} AS sy,
         {sql_dsum("l_quantity * l_quantity", DEC_WIDE)} AS sx1x1,
         {sql_dsum("l_discount * l_discount", DEC_WIDE)} AS sx2x2,
         {sql_dsum("l_quantity * l_discount", DEC_WIDE)} AS sx1x2,
         {sql_dsum("l_quantity * l_extendedprice", DEC_WIDE)} AS sx1y,
         {sql_dsum("l_discount * l_extendedprice", DEC_WIDE)} AS sx2y
  FROM lineitem GROUP BY 1
),
c AS (
  SELECT grp, n,
         sx1x1 - sx1 * sx1 / n + {_RIDGE_LAMBDA} AS a11,
         sx2x2 - sx2 * sx2 / n + {_RIDGE_LAMBDA} AS a22,
         sx1x2 - sx1 * sx2 / n AS a12,
         sx1y - sx1 * sy / n AS c1,
         sx2y - sx2 * sy / n AS c2,
         sx1, sx2, sy
  FROM s
),
b AS (
  SELECT grp, n, sx1, sx2, sy,
         (a22 * c1 - a12 * c2) / (a11 * a22 - a12 * a12) AS beta1,
         (a11 * c2 - a12 * c1) / (a11 * a22 - a12 * a12) AS beta2
  FROM c
)
SELECT grp, n,
       ROUND(beta1, 6) AS beta1,
       ROUND(beta2, 6) AS beta2,
       ROUND((sy - beta1 * sx1 - beta2 * sx2) / n, 6) AS intercept
FROM b
"""


@query("ml_ridge_closed_form", oracle=_RIDGE_SQL)
def ml_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ridge regression per group, solved in CLOSED FORM
    from sufficient statistics (price ~ quantity + discount per return
    flag): one partial-agg pass accumulates the nine exact-DECIMAL
    power sums; centering reduces the normal equations to a 2x2 system
    (X'X + lambda*I) beta = X'y solved by the explicit inverse, and the
    intercept is recovered from the means. ts_trend_ols's discipline
    lifted to the multivariate + regularized case — the degenerate-
    design guard OLS lacks (lambda keeps the system invertible even
    when the features are collinear), with zero iteration (contrast
    ml_logreg_quality, which is iterative by nature and rows-only).

    Scale: the fact scan reduces to 9 monoid sums per group — the same
    one-pass shape at 100 TB; the solve is K-row scalar algebra. The
    DECIMAL accumulators make the sums order-exact, so the double
    algebra downstream is bit-identical on both engines and ROUND(6)
    absorbs only the division chain's last ulp. Products stay inside
    `DEC_WIDE`: quantity*price <= ~5e6 per row, summed < 1e13 at
    any tested SF."""
    li = load_parallel(spark, sf_dir, "lineitem")

    x1, x2, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    s = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count("*").alias("n"),
        dsum(x1).alias("sx1"),
        dsum(x2).alias("sx2"),
        dsum(y).alias("sy"),
        dsum(x1 * x1, DEC_WIDE).alias("sx1x1"),
        dsum(x2 * x2, DEC_WIDE).alias("sx2x2"),
        dsum(x1 * x2, DEC_WIDE).alias("sx1x2"),
        dsum(x1 * y, DEC_WIDE).alias("sx1y"),
        dsum(x2 * y, DEC_WIDE).alias("sx2y"),
    )
    n = F.col("n")
    a11 = F.col("sx1x1") - F.col("sx1") * F.col("sx1") / n + F.lit(_RIDGE_LAMBDA)
    a22 = F.col("sx2x2") - F.col("sx2") * F.col("sx2") / n + F.lit(_RIDGE_LAMBDA)
    a12 = F.col("sx1x2") - F.col("sx1") * F.col("sx2") / n
    c1 = F.col("sx1y") - F.col("sx1") * F.col("sy") / n
    c2 = F.col("sx2y") - F.col("sx2") * F.col("sy") / n
    det = a11 * a22 - a12 * a12
    beta1 = (a22 * c1 - a12 * c2) / det
    beta2 = (a11 * c2 - a12 * c1) / det
    return s.select(
        "grp",
        "n",
        F.round(beta1, 6).alias("beta1"),
        F.round(beta2, 6).alias("beta2"),
        F.round(
            (F.col("sy") - beta1 * F.col("sx1") - beta2 * F.col("sx2")) / n, 6
        ).alias("intercept"),
    )


_PW_CAPS = (16, 32, 64, 128, 256, 512, 1024, 2048)


def _pw_cap_sql(n: str) -> str:
    cases = " ".join(
        f"WHEN {n} <= {c} THEN {c}" for c in _PW_CAPS
    )
    return f"CASE {cases} ELSE 4096 END"


_PW_SQL = f"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
),
b AS (
  SELECT CAST({_pw_cap_sql('n_tok')} AS BIGINT) AS bucket_cap, n_tok
  FROM t
)
SELECT bucket_cap,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       CAST(SUM(bucket_cap - n_tok) AS BIGINT) AS sum_padding,
       CAST(SUM(bucket_cap - n_tok) AS DOUBLE)
         / CAST(COUNT(*) * bucket_cap AS DOUBLE) AS waste_ratio
FROM b
GROUP BY bucket_cap
"""


@query("pack_padding_waste", oracle=_PW_SQL)
def pack_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for length-bucketed batching — the
    efficiency ledger behind every fixed-shape training batch: each
    document rounds UP to the next power-of-two token bucket, and the
    per-bucket padding mass (bucket_cap − n_tokens summed) over
    capacity is the fraction of accelerator FLOPs burned on pad
    tokens. pack_sequences ELIMINATES the waste by concatenation; this
    op MEASURES what static bucketing costs, which is how you decide
    whether packing is worth its attention-mask complexity for a given
    corpus. The cap ladder is an integer CASE — no log2 float walk to
    diverge at exact powers of two.

    Determinism: token counts, caps, and padding sums are exact
    integers; waste_ratio is an integer-ratio double (bitwise, no
    rounding).

    Scale: row-local bucketing + one partial-aggregable groupBy over
    ≤9 bucket keys — the map side reduces everything."""
    d = load_parallel(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    cap = F.lit(4096)
    for c in reversed(_PW_CAPS):
        cap = F.when(F.col("n_tok") <= c, F.lit(c)).otherwise(cap)
    b = d.select(cap.cast("bigint").alias("bucket_cap"), "n_tok")
    return b.groupBy("bucket_cap").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
        F.sum(F.col("bucket_cap") - F.col("n_tok"))
        .cast("bigint")
        .alias("sum_padding"),
        (
            F.sum(F.col("bucket_cap") - F.col("n_tok")).cast("double")
            / (F.count("*") * F.col("bucket_cap")).cast("double")
        ).alias("waste_ratio"),
    )


_CUR_BINS = 1024
_CUR_PHASES = 4  # curriculum stages: shortest quartile first


_CUR_SQL = f"""
WITH rng AS (
  SELECT source, MIN(n_chars) AS mn, MAX(n_chars) AS mx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1
),
binned AS (
  SELECT d.doc_id, d.source, d.n_chars,
         CAST(LEAST(FLOOR((d.n_chars - r.mn)
                          / (CASE WHEN r.mx = r.mn THEN 1.0
                                  ELSE (r.mx - r.mn) / {_CUR_BINS} END)),
                    {_CUR_BINS - 1}) AS BIGINT) AS k
  FROM documents d JOIN rng r ON r.source = d.source
),
hist AS (
  SELECT source, k, CAST(COUNT(*) AS BIGINT) AS c
  FROM binned GROUP BY 1, 2
),
cum AS (
  SELECT source, k,
         SUM(c) OVER (PARTITION BY source ORDER BY k) AS cw,
         SUM(c) OVER (PARTITION BY source) AS tw
  FROM hist
),
cuts AS (
  SELECT source,
         MIN(CASE WHEN cw * 4 >= tw THEN k END) AS k1,
         MIN(CASE WHEN cw * 2 >= tw THEN k END) AS k2,
         MIN(CASE WHEN cw * 4 >= tw * 3 THEN k END) AS k3
  FROM cum GROUP BY 1
)
SELECT b.doc_id, b.source,
       CASE WHEN b.k <= c.k1 THEN 1
            WHEN b.k <= c.k2 THEN 2
            WHEN b.k <= c.k3 THEN 3
            ELSE 4 END AS phase
FROM binned b JOIN cuts c ON c.source = b.source
"""


@query("mix_curriculum", oracle=_CUR_SQL)
def mix_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum phase assignment: each document gets a training stage
    1..4 by its length quartile WITHIN its source — the standard
    short-to-long curriculum (and the template for any score-quantile
    curriculum: swap n_chars for a quality score, nothing else
    changes). mix_domains reweights BETWEEN sources; this orders
    WITHIN them.

    Scale design: quartile cuts come from a per-source 1024-bin count
    histogram (the agg_winsorized_mean_sketch machinery) — NOT a
    per-source rank window, which would be a constant-cardinality-key
    single-partition sort, exactly the class the CLAUDE.md window
    policy bans; the histogram's windows run on <=1024-row per-source
    grain, the cuts broadcast, and phase assignment is row-local.
    Documents in the same bin share a phase (bin-granular quartiles —
    the documented approximation; 1024 bins over the length range make
    the boundary mass negligible and the assignment deterministic).

    Determinism: bin keys and cut ranks are integer arithmetic over
    exact counts (cross-multiplied comparisons, no division); bin
    width is the same fixed IEEE expression both engines."""
    d = load_parallel(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    rng = d.groupBy("source").agg(
        F.min("n_chars").alias("mn"),
        F.max("n_chars").alias("mx"),
        F.count("*").cast("bigint").alias("n"),
    )
    width = F.when(F.col("mx") == F.col("mn"), F.lit(1.0)).otherwise(
        (F.col("mx") - F.col("mn")) / F.lit(_CUR_BINS)
    )
    k = F.least(
        F.floor((F.col("n_chars") - F.col("mn")) / width),
        F.lit(_CUR_BINS - 1),
    ).cast("bigint")
    binned = d.join(F.broadcast(rng), "source").select(
        "doc_id", "source", "n_chars", k.alias("k")
    )
    hist = binned.groupBy("source", "k").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_cum = Window.partitionBy("source").orderBy("k")
    w_all = Window.partitionBy("source")
    cum = hist.select(
        "source",
        "k",
        F.sum("c").over(w_cum).alias("cw"),
        F.sum("c").over(w_all).alias("tw"),
    )
    cw, tw, kk = F.col("cw"), F.col("tw"), F.col("k")
    cuts = cum.groupBy("source").agg(
        F.min(F.when(cw * 4 >= tw, kk)).alias("k1"),
        F.min(F.when(cw * 2 >= tw, kk)).alias("k2"),
        F.min(F.when(cw * 4 >= tw * 3, kk)).alias("k3"),
    )
    return (
        binned.join(F.broadcast(cuts), "source")
        .select(
            "doc_id",
            "source",
            F.when(F.col("k") <= F.col("k1"), 1)
            .when(F.col("k") <= F.col("k2"), 2)
            .when(F.col("k") <= F.col("k3"), 3)
            .otherwise(4)
            .alias("phase"),
        )
    )


_IPF_ROUNDS = 6


def _ipf_sql(rounds: int) -> str:
    """DuckDB twin: IPF unrolled — per round a source-margin scaling
    then a lang-margin scaling. Margin sums accumulate in `DEC`
    (weights are exact 1e-6 multiples, so the sums are EXACT — no fold
    order anywhere); each scaled weight snaps back to the
    FLOOR(x·1e6+0.5)/1e6 lattice so drift cannot compound. Loop CTEs
    MATERIALIZED (each state feeds both its margin agg and the scale
    join)."""
    ctes = [
        """w0 AS MATERIALIZED (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) AS DOUBLE) AS w
  FROM documents GROUP BY 1, 2)""",
        """t AS (
  SELECT CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT source) AS tr,
         CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT lang) AS tl
  FROM documents)""",
    ]
    prev = "w0"
    for i in range(1, rounds + 1):
        ctes.append(
            f"""r{i} AS MATERIALIZED (
  SELECT w.source, w.lang, w.n,
         FLOOR(w.w * (SELECT tr FROM t)
               / CAST(rs.s AS DOUBLE) * 1e6 + 0.5) / 1e6 AS w
  FROM {prev} w JOIN (
    SELECT source, SUM(CAST(w AS {DEC})) AS s
    FROM {prev} GROUP BY 1) rs ON rs.source = w.source)"""
        )
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT w.source, w.lang, w.n,
         FLOOR(w.w * (SELECT tl FROM t)
               / CAST(cs.s AS DOUBLE) * 1e6 + 0.5) / 1e6 AS w
  FROM r{i} w JOIN (
    SELECT lang, SUM(CAST(w AS {DEC})) AS s
    FROM r{i} GROUP BY 1) cs ON cs.lang = w.lang)"""
        )
        prev = f"c{i}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT source, lang, n AS n_docs, w AS weight FROM {prev}"""
    )


@query("mix_raking_ipf", oracle=_ipf_sql(_IPF_ROUNDS))
def mix_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking / Sinkhorn scaling) of the
    (source × lang) corpus contingency toward UNIFORM source and lang
    margins — the 2-D calibration mix_domains' one-dimensional
    reweighting cannot express: when both marginals must hit targets
    simultaneously (balance sources AND languages for a training mix),
    the classical answer is alternating margin scaling, and the result
    is the maximum-entropy reweighting consistent with both targets
    (Deming-Stephan 1940; Sinkhorn 1964). {_IPF_ROUNDS} rounds, each a
    source-margin scale then a lang-margin scale.

    Determinism: weights live on an exact 1e-6 lattice — margin sums
    accumulate in `DEC`, which is EXACT for lattice multiples
    (no fold order at all); targets are single integer divisions; each
    scaled weight snaps back to the lattice via FLOOR(x·1e6+0.5) (the
    ml_pca_power per-round discipline). Full value hash, no rounding.

    Scale: the contingency is ONE partial-agg scan of the corpus; the
    loop runs on the K-cell frame (sources × langs — constant in
    corpus size) with per-round parquet stats resets (each state feeds
    both its margin agg and the scale join — the CLAUDE.md
    stats-squaring rule). A pytest pins margin convergence: after
    {_IPF_ROUNDS} rounds every source margin is within 0.1% of
    uniform."""

    d = load_parallel(spark, sf_dir, "documents")
    w = (
        d.groupBy("source", "lang")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            "source", "lang", "n", F.col("n").cast("double").alias("w")
        )
    )
    tot = d.agg(
        F.count("*").alias("n"),
        F.countDistinct("source").alias("ns"),
        F.countDistinct("lang").alias("nl"),
    ).first()
    tr = float(tot["n"]) / tot["ns"]
    tl = float(tot["n"]) / tot["nl"]

    def scale(df: DataFrame, key: str, target: float) -> DataFrame:
        ms = df.groupBy(key).agg(
            F.sum(F.col("w").cast(DEC)).alias("s")
        )
        return (
            df.join(F.broadcast(ms), key)
            .select(
                "source",
                "lang",
                "n",
                (
                    F.floor(
                        F.col("w")
                        * F.lit(target)
                        / F.col("s").cast("double")
                        * 1e6
                        + F.lit(0.5)
                    )
                    / 1e6
                ).alias("w"),
            )
        )

    for _ in range(_IPF_ROUNDS):
        w = pin(scale(scale(w, "source", tr), "lang", tl), reset_stats=True)
    return w.select("source", "lang", F.col("n").alias("n_docs"),
                    F.col("w").alias("weight"))


_GBM_ROUNDS = 3
_GBM_B = 32          # per-feature histogram buckets (ml_dt_stump's)
_GBM_NU = 0.5        # shrinkage — exact binary fraction
# state units: u = 1e-4 cents, so means snap losslessly to integers
_GBM_FEATS = (("disc", "bd"), ("price", "bp"), ("qty", "bq"))


def _gbm_sql(rounds: int) -> str:
    """DuckDB twin: the cell sufficient-statistics build, then each
    boosting round as axis-rollup → cumulative split scoring → 1-row
    argmax → cell state update, all MATERIALIZED (each state feeds the
    rollup AND the update; each best feeds the update AND the output).
    Residual sums are exact BIGINTs in u = 1e-4-cent units recomputed
    from (n, sy, fl) each round — no float state anywhere; the split
    score (rl²/nl + rr²/nr) and the threshold are fixed IEEE trees over
    those integers, and the per-side mean snaps back to the integer
    lattice via FLOOR(ν·r/n + 0.5)."""
    b = _GBM_B
    bucket = (
        "CASE WHEN {hi} = {lo} THEN 0 ELSE LEAST(CAST(FLOOR(({v} - {lo})"
        " / (({hi} - {lo}) / " + f"{b}.0)) AS BIGINT), {b - 1}) END"
    )
    ctes = [
        """rng AS (
  SELECT MIN(l_discount) AS dlo, MAX(l_discount) AS dhi,
         MIN(l_extendedprice) AS plo, MAX(l_extendedprice) AS phi,
         MIN(l_quantity) AS qlo, MAX(l_quantity) AS qhi
  FROM lineitem)""",
        f"""cells AS MATERIALIZED (
  SELECT {bucket.format(v='l.l_discount', lo='r.dlo', hi='r.dhi')} AS bd,
         {bucket.format(v='l.l_extendedprice', lo='r.plo', hi='r.phi')} AS bp,
         {bucket.format(v='l.l_quantity', lo='r.qlo', hi='r.qhi')} AS bq,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS sy
  FROM lineitem l, rng r
  GROUP BY 1, 2, 3)""",
        """f0 AS (
  SELECT CAST((SUM(sy) * 10000) // SUM(n) AS BIGINT) AS fl FROM cells)""",
        """c0 AS MATERIALIZED (
  SELECT bd, bp, bq, n, sy, (SELECT fl FROM f0) AS fl FROM cells)""",
    ]
    out_rows = []
    for m in range(1, rounds + 1):
        p = f"c{m - 1}"
        ctes.append(
            f"""ax{m} AS (
  SELECT 'disc' AS f, bd AS bucket, n, sy * 10000 - n * fl AS ru FROM {p}
  UNION ALL
  SELECT 'price', bp, n, sy * 10000 - n * fl FROM {p}
  UNION ALL
  SELECT 'qty', bq, n, sy * 10000 - n * fl FROM {p})"""
        )
        ctes.append(
            f"""cum{m} AS (
  SELECT f, bucket,
         CAST(SUM(nn) OVER w AS BIGINT) AS nl,
         CAST(SUM(rr) OVER w AS BIGINT) AS rl,
         CAST(SUM(nn) OVER t AS BIGINT) AS nt,
         CAST(SUM(rr) OVER t AS BIGINT) AS rt
  FROM (SELECT f, bucket, CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(ru) AS BIGINT) AS rr
        FROM ax{m} GROUP BY 1, 2)
  WINDOW w AS (PARTITION BY f ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         t AS (PARTITION BY f))"""
        )
        ctes.append(
            f"""best{m} AS MATERIALIZED (
  SELECT *, CAST(FLOOR({_GBM_NU} * (CAST(rl AS DOUBLE) / nl) + 0.5)
                 AS BIGINT) AS dl,
         CAST(FLOOR({_GBM_NU} * (CAST(rt - rl AS DOUBLE) / (nt - nl)) + 0.5)
              AS BIGINT) AS dr
  FROM (
    SELECT f, bucket, nl, rl, nt, rt,
           ROW_NUMBER() OVER (ORDER BY
             (CAST(rl AS DOUBLE) / 1e6) * (CAST(rl AS DOUBLE) / 1e6) / nl
             + (CAST(rt - rl AS DOUBLE) / 1e6)
               * (CAST(rt - rl AS DOUBLE) / 1e6) / (nt - nl) DESC,
             f ASC, bucket ASC) AS rn
    FROM cum{m} WHERE nl < nt)
  WHERE rn = 1)"""
        )
        ctes.append(
            f"""c{m} AS MATERIALIZED (
  SELECT c.bd, c.bp, c.bq, c.n, c.sy,
         c.fl + CASE WHEN (CASE b.f WHEN 'disc' THEN c.bd
                                    WHEN 'price' THEN c.bp
                                    ELSE c.bq END) <= b.bucket
                     THEN b.dl ELSE b.dr END AS fl
  FROM c{m - 1} c, best{m} b)"""
        )
        out_rows.append(
            f"""SELECT CAST({m} AS BIGINT) AS round, b.f AS feature,
       b.bucket AS split_bucket,
       (CASE b.f WHEN 'disc' THEN r.dlo + (b.bucket + 1) * ((r.dhi - r.dlo) / {b}.0)
                 WHEN 'price' THEN r.plo + (b.bucket + 1) * ((r.phi - r.plo) / {b}.0)
                 ELSE r.qlo + (b.bucket + 1) * ((r.qhi - r.qlo) / {b}.0) END)
         AS threshold,
       b.nl AS n_left, b.nt - b.nl AS n_right,
       b.dl AS delta_left_u, b.dr AS delta_right_u
FROM best{m} b, rng r"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(out_rows)
    )


@query("ml_gbm_stumps", oracle=_gbm_sql(_GBM_ROUNDS))
def ml_gbm_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted decision stumps (squared loss, ν = 1/2,
    {_GBM_ROUNDS} rounds) regressing the line price on the three
    histogram features — the ENSEMBLE layer over ml_dt_stump's single
    split, i.e. the LightGBM/XGBoost 'hist' training loop in
    miniature. The corpus is touched ONCE: because the bucket lattice
    is fixed, a row's prediction depends only on its (bd, bp, bq)
    bucket triple, so ALL training state lives on the ≤{_GBM_B}³-cell
    sufficient-statistics frame (n, Σcents per cell) and every round
    is axis-rollup → cumulative split scoring → argmax → cell update —
    cost independent of row count beyond the one scan, the same
    sufficient-statistics factoring as ml_pca_power.

    Determinism: cell counts and price sums are exact BIGINTs; the
    model value fl lives on an integer u = 1e-4-cent lattice, per-side
    residual sums are recomputed each round as sy·10⁴ − n·fl (exact —
    NO float state crosses rounds); the split score and threshold are
    fixed IEEE trees over those integers (bitwise both engines) and
    each side's ν·mean update snaps back to the lattice via
    FLOOR(x + 0.5). Output is all integers plus the fixed-tree
    threshold — full value hash, zero rounding. A pytest replays the
    identical algorithm in pandas and pins bitwise-equal outputs AND
    the boosting property (training SSE strictly decreases per round,
    beating the mean-only baseline).

    Scale: one melt-free fact scan into the cell frame; each round's
    frames are cell- or 3×{_GBM_B}-row sized; the 1-row best-split
    frame joins back by broadcast (plan_audit NESTED_LOOP_OK — the
    ml_pca_power one-row class); cell state is stats-reset per round
    via the parquet round-trip (CLAUDE.md)."""

    li = load_parallel(spark, sf_dir, "lineitem")
    rng_row = li.agg(
        F.min("l_discount").alias("dlo"), F.max("l_discount").alias("dhi"),
        F.min("l_extendedprice").alias("plo"),
        F.max("l_extendedprice").alias("phi"),
        F.min("l_quantity").alias("qlo"), F.max("l_quantity").alias("qhi"),
    ).first()

    def bucket(v, lo: float, hi: float):
        if hi == lo:
            return F.lit(0).cast("long")
        return F.least(
            F.floor((v - F.lit(lo)) / F.lit((hi - lo) / float(_GBM_B)))
            .cast("long"),
            F.lit(_GBM_B - 1).cast("long"),
        )

    cells = pin(
        li.select(
            bucket(F.col("l_discount"), rng_row["dlo"], rng_row["dhi"])
            .alias("bd"),
            bucket(F.col("l_extendedprice"), rng_row["plo"], rng_row["phi"])
            .alias("bp"),
            bucket(F.col("l_quantity"), rng_row["qlo"], rng_row["qhi"])
            .alias("bq"),
            F.floor(F.col("l_extendedprice") * 100).cast("bigint")
            .alias("cents"),
        )
        .groupBy("bd", "bp", "bq")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sy"),
        )
    )
    tot = cells.agg(
        F.sum("sy").alias("ts"), F.sum("n").alias("tn")
    ).first()
    f0 = (int(tot["ts"]) * 10000) // int(tot["tn"])
    state = cells.withColumn("fl", F.lit(f0).cast("bigint"))
    lo_hi = {
        "disc": (rng_row["dlo"], rng_row["dhi"]),
        "price": (rng_row["plo"], rng_row["phi"]),
        "qty": (rng_row["qlo"], rng_row["qhi"]),
    }
    outs = []
    for m in range(1, _GBM_ROUNDS + 1):
        ru = F.col("sy") * 10000 - F.col("n") * F.col("fl")
        ax = None
        for fname, bcol in _GBM_FEATS:
            part = state.select(
                F.lit(fname).alias("f"),
                F.col(bcol).alias("bucket"),
                F.col("n"),
                ru.alias("ru"),
            )
            ax = part if ax is None else ax.unionAll(part)
        g = ax.groupBy("f", "bucket").agg(
            F.sum("n").cast("bigint").alias("nn"),
            F.sum("ru").cast("bigint").alias("rr"),
        )
        w_cum = (
            Window.partitionBy("f")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_tot = Window.partitionBy("f")
        cum = g.select(
            "f",
            "bucket",
            F.sum("nn").over(w_cum).cast("bigint").alias("nl"),
            F.sum("rr").over(w_cum).cast("bigint").alias("rl"),
            F.sum("nn").over(w_tot).cast("bigint").alias("nt"),
            F.sum("rr").over(w_tot).cast("bigint").alias("rt"),
        ).filter(F.col("nl") < F.col("nt"))
        rl_d = F.col("rl").cast("double") / 1e6
        rr_d = (F.col("rt") - F.col("rl")).cast("double") / 1e6
        score = rl_d * rl_d / F.col("nl") + rr_d * rr_d / (
            F.col("nt") - F.col("nl")
        )
        w_best = Window.orderBy(
            score.desc(), F.asc("f"), F.asc("bucket")
        )
        best = pin(
            cum.withColumn("rn", F.row_number().over(w_best))
            .filter(F.col("rn") == 1)
            .select(
                "f",
                "bucket",
                "nl",
                "nt",
                F.floor(
                    F.lit(_GBM_NU) * (F.col("rl").cast("double") / F.col("nl"))
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("dl"),
                F.floor(
                    F.lit(_GBM_NU)
                    * (
                        (F.col("rt") - F.col("rl")).cast("double")
                        / (F.col("nt") - F.col("nl"))
                    )
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("dr"),
            )
        )
        brow = best.first()
        if brow is None:
            # no valid split anywhere (every feature constant → one
            # bucket per axis, nl < nt never holds): boosting stops.
            # The oracle's best{m} CTE goes empty the same round and
            # every later round inherits the empty state, so both
            # engines emit exactly the rounds that trained.
            break
        thr_lo, thr_hi = lo_hi[brow["f"]]
        outs.append(
            {
                "round": m,
                "feature": brow["f"],
                "split_bucket": int(brow["bucket"]),
                "threshold": thr_lo
                + (int(brow["bucket"]) + 1) * ((thr_hi - thr_lo) / float(_GBM_B)),
                "n_left": int(brow["nl"]),
                "n_right": int(brow["nt"]) - int(brow["nl"]),
                "delta_left_u": int(brow["dl"]),
                "delta_right_u": int(brow["dr"]),
            }
        )
        side_bucket = {
            "disc": F.col("bd"), "price": F.col("bp"), "qty": F.col("bq")
        }[brow["f"]]
        state = pin(
            state.select(
                "bd",
                "bp",
                "bq",
                "n",
                "sy",
                (
                    F.col("fl")
                    + F.when(
                        side_bucket <= F.lit(int(brow["bucket"])),
                        F.lit(int(brow["dl"])),
                    ).otherwise(F.lit(int(brow["dr"])))
                )
                .cast("bigint")
                .alias("fl"),
            ),
            reset_stats=True,
        )
    spark_ = li.sparkSession
    return spark_.createDataFrame(
        outs,
        "round long, feature string, split_bucket long, threshold double, "
        "n_left long, n_right long, delta_left_u long, delta_right_u long",
    )


_TE_M = 20  # smoothing pseudo-count
_TE_FOLDS = 3

_TE_SQL = f"""
WITH base AS (
  SELECT o_custkey AS ck, o_orderkey % {_TE_FOLDS} AS fold,
         CASE WHEN o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END AS y
  FROM orders
),
cf AS (
  SELECT ck, fold, CAST(COUNT(*) AS BIGINT) AS n_kf,
         CAST(SUM(y) AS BIGINT) AS sy_kf
  FROM base GROUP BY 1, 2
),
ct AS (
  SELECT ck, CAST(SUM(n_kf) AS BIGINT) AS n_k,
         CAST(SUM(sy_kf) AS BIGINT) AS sy_k
  FROM cf GROUP BY 1
),
gf AS (
  SELECT fold, CAST(SUM(n_kf) AS BIGINT) AS n_f,
         CAST(SUM(sy_kf) AS BIGINT) AS sy_f
  FROM cf GROUP BY 1
),
g AS (
  SELECT CAST(SUM(n_f) AS BIGINT) AS n_all,
         CAST(SUM(sy_f) AS BIGINT) AS sy_all
  FROM gf
)
SELECT cf.ck AS custkey, cf.fold,
       ct.n_k - cf.n_kf AS n_out,
       ct.sy_k - cf.sy_kf AS sy_out,
       CAST(g.sy_all - gf.sy_f AS DOUBLE)
         / CAST(g.n_all - gf.n_f AS DOUBLE) AS prior_out,
       CAST((ct.sy_k - cf.sy_kf) * (g.n_all - gf.n_f)
            + {_TE_M} * (g.sy_all - gf.sy_f) AS DOUBLE)
         / CAST((g.n_all - gf.n_f) * (ct.n_k - cf.n_kf + {_TE_M})
                AS DOUBLE) AS enc
FROM cf
JOIN ct USING (ck)
JOIN gf USING (fold)
CROSS JOIN g
"""


@query("ml_target_encoding", oracle=_TE_SQL)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe OUT-OF-FOLD smoothed target encoding — the feature
    transform every tabular training pipeline applies to
    high-cardinality categoricals (the alternative, one-hot, explodes
    at 100 TB key cardinalities): encode o_custkey by the smoothed
    urgent-order rate computed from the OTHER {_TE_FOLDS - 1} folds,

        enc(k, f) = (sy_out + m·prior_out) / (n_out + m),  m = {_TE_M}

    where sy_out/n_out are key k's label sum / count OUTSIDE fold f and
    prior_out the global rate outside f — rare keys shrink toward the
    prior (the James-Stein move) and a row's own label can never reach
    its own feature (the leakage contract the no-leak planted test
    pins by flipping one fold's labels).

    Determinism: everything is counting until the last step; enc is
    rewritten over a common denominator as a ratio of two exact
    BIGINTs — (sy_out·D + m·Np) / (D·(n_out+m)) with prior_out = Np/D
    — so enc and prior_out are unrounded integer-ratio doubles,
    bitwise identical cross-engine. (The naive form sy_out/… +
    m·prior/… would round twice and diverge.) At petabyte counts the
    cross-product sy_out·D approaches BIGINT range — promote the
    numerator to DECIMAL(38,0) there; the ratio stays exact.

    Scale: one scan → (key, fold) partial agg; key totals are a second
    agg co-partitioned on the key; the fold frame is {_TE_FOLDS} rows
    and the global frame 1 row (broadcast — plan_audit NESTED_LOOP_OK,
    the sanctioned one-row-scalar shape). Nothing data-proportional
    survives past the first groupBy."""
    o = load_parallel(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_custkey").alias("ck"),
        (F.col("o_orderkey") % _TE_FOLDS).alias("fold"),
        F.when(F.col("o_orderpriority").startswith("1-"), 1)
        .otherwise(0)
        .alias("y"),
    )
    cf = pin(base.groupBy("ck", "fold").agg(
        F.count("*").cast("bigint").alias("n_kf"),
        F.sum("y").cast("bigint").alias("sy_kf"),
    ))  # consumed by 3 branches (ct/gf/g):
    # without this the fact scan + first agg re-run per branch
    ct = cf.groupBy("ck").agg(
        F.sum("n_kf").cast("bigint").alias("n_k"),
        F.sum("sy_kf").cast("bigint").alias("sy_k"),
    )
    gf = cf.groupBy("fold").agg(
        F.sum("n_kf").cast("bigint").alias("n_f"),
        F.sum("sy_kf").cast("bigint").alias("sy_f"),
    )
    g = gf.agg(
        F.sum("n_f").cast("bigint").alias("n_all"),
        F.sum("sy_f").cast("bigint").alias("sy_all"),
    )
    joined = (
        cf.join(ct, "ck")
        .join(F.broadcast(gf), "fold")
        .crossJoin(F.broadcast(g))
    )
    n_out = F.col("n_k") - F.col("n_kf")
    sy_out = F.col("sy_k") - F.col("sy_kf")
    d_p = F.col("n_all") - F.col("n_f")
    n_p = F.col("sy_all") - F.col("sy_f")
    return joined.select(
        F.col("ck").alias("custkey"),
        "fold",
        n_out.cast("bigint").alias("n_out"),
        sy_out.cast("bigint").alias("sy_out"),
        (n_p.cast("double") / d_p.cast("double")).alias("prior_out"),
        (
            (sy_out * d_p + _TE_M * n_p).cast("double")
            / (d_p * (n_out + _TE_M)).cast("double")
        ).alias("enc"),
    )


_WOE_BINS = 10

_WOE_SQL = f"""
WITH base AS (
  SELECT o_totalprice AS x,
         CASE WHEN o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END AS y
  FROM orders
),
mm AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM base),
b AS (
  SELECT CASE WHEN hi = lo THEN 0
              ELSE LEAST(CAST(FLOOR(((x - lo) * {_WOE_BINS}) / (hi - lo))
                         AS BIGINT), {_WOE_BINS - 1}) END AS bin,
         y
  FROM base CROSS JOIN mm
),
c AS (
  SELECT bin, CAST(SUM(y) AS BIGINT) AS pos,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
  FROM b GROUP BY 1
),
t AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS tp, CAST(SUM(neg) AS BIGINT) AS tn
  FROM c
)
SELECT bin, pos + neg AS n_rows, pos, neg,
       ROUND(LN(CAST((pos + 1) * (tn + {_WOE_BINS}) AS DOUBLE)
                / CAST((neg + 1) * (tp + {_WOE_BINS}) AS DOUBLE)), 6)
         AS woe,
       (CAST(pos + 1 AS DOUBLE) / CAST(tp + {_WOE_BINS} AS DOUBLE)
        - CAST(neg + 1 AS DOUBLE) / CAST(tn + {_WOE_BINS} AS DOUBLE))
       * ROUND(LN(CAST((pos + 1) * (tn + {_WOE_BINS}) AS DOUBLE)
                  / CAST((neg + 1) * (tp + {_WOE_BINS}) AS DOUBLE)), 6)
         AS iv_term
FROM c CROSS JOIN t
"""


@query("ml_woe_iv", oracle=_WOE_SQL)
def ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence binning + information value — the
    feature-SCREENING companion to ml_target_encoding's feature
    TRANSFORM (WoE/IV is how credit-scoring and feature-selection
    pipelines rank candidate predictors before encoding them): bin
    the numeric feature into {_WOE_BINS} equal-width bins, and per
    bin WoE = ln(P(bin|pos) / P(bin|neg)); IV = Σ (P(bin|pos) −
    P(bin|neg))·WoE summarizes the feature's separating power (the
    planted test pins IV ≈ 0 for an uninformative feature and large
    for a separating one). Laplace smoothing (+1 per bin, +{_WOE_BINS}
    on totals) keeps empty-class bins finite.

    Determinism: the WoE argument is rewritten as ONE exact-BIGINT
    ratio (pos+1)·(NEG+10) / ((neg+1)·(POS+10)) — cross-multiplied so
    no intermediate double division feeds the transcendental; LN takes
    ROUND(6) (ties measure-zero); iv_term multiplies two bitwise
    operands (an exact integer-ratio difference × the lattice WoE) —
    one IEEE multiply, identical both engines, no summation in-query
    (the long form; the test assembles IV). Bin assignment divides
    identical doubles with explicit parenthesization — same FLOOR both
    engines; hi = lo degenerates to bin 0, not a division by zero.

    Scale: one scan + 1-row min/max frame (broadcast — NESTED_LOOP_OK)
    + {_WOE_BINS}-key partial agg + 1-row totals frame. Screening K
    features is K independent passes or one melt — embarrassingly
    parallel either way."""
    o = load_parallel(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_totalprice").alias("x"),
        F.when(F.col("o_orderpriority").startswith("1-"), 1)
        .otherwise(0)
        .alias("y"),
    )
    mm = base.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    b = base.crossJoin(F.broadcast(mm)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("bigint"))
        .otherwise(
            F.least(
                F.floor(
                    ((F.col("x") - F.col("lo")) * _WOE_BINS)
                    / (F.col("hi") - F.col("lo"))
                ).cast("bigint"),
                F.lit(_WOE_BINS - 1).cast("bigint"),
            )
        )
        .alias("bin"),
        "y",
    )
    c = b.groupBy("bin").agg(
        F.sum("y").cast("bigint").alias("pos"),
        (F.count("*") - F.sum("y")).cast("bigint").alias("neg"),
    )
    t = c.agg(
        F.sum("pos").cast("bigint").alias("tp"),
        F.sum("neg").cast("bigint").alias("tn"),
    )
    woe = F.round(
        F.log(
            ((F.col("pos") + 1) * (F.col("tn") + _WOE_BINS)).cast("double")
            / ((F.col("neg") + 1) * (F.col("tp") + _WOE_BINS)).cast("double")
        ),
        6,
    )
    p_pos = (F.col("pos") + 1).cast("double") / (
        F.col("tp") + _WOE_BINS
    ).cast("double")
    p_neg = (F.col("neg") + 1).cast("double") / (
        F.col("tn") + _WOE_BINS
    ).cast("double")
    return c.crossJoin(F.broadcast(t)).select(
        "bin",
        (F.col("pos") + F.col("neg")).alias("n_rows"),
        "pos",
        "neg",
        woe.alias("woe"),
        ((p_pos - p_neg) * woe).alias("iv_term"),
    )


# ---------------------------------------------------------------------------
# K-fold cross-validated ridge — leave-fold-out sufficient statistics

_CV_K = 5  # folds (deterministic: fold = l_orderkey % _CV_K)

_KFOLD_SQL = f"""
WITH sf AS (
  SELECT l_returnflag AS grp, l_orderkey % {_CV_K} AS fold,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS {DEC})) AS sx1,
         SUM(CAST(l_discount AS {DEC})) AS sx2,
         SUM(CAST(l_extendedprice AS {DEC})) AS sy,
         SUM(CAST(l_quantity * l_quantity AS {DEC_WIDE})) AS sx1x1,
         SUM(CAST(l_discount * l_discount AS {DEC_WIDE})) AS sx2x2,
         SUM(CAST(l_quantity * l_discount AS {DEC_WIDE})) AS sx1x2,
         SUM(CAST(l_quantity * l_extendedprice AS {DEC_WIDE})) AS sx1y,
         SUM(CAST(l_discount * l_extendedprice AS {DEC_WIDE})) AS sx2y
  FROM lineitem GROUP BY 1, 2
),
tot AS (
  SELECT grp, SUM(n) AS n, SUM(sx1) AS sx1, SUM(sx2) AS sx2,
         SUM(sy) AS sy, SUM(sx1x1) AS sx1x1, SUM(sx2x2) AS sx2x2,
         SUM(sx1x2) AS sx1x2, SUM(sx1y) AS sx1y, SUM(sx2y) AS sx2y
  FROM sf GROUP BY 1
),
tr AS (
  SELECT f.grp, f.fold,
         t.n - f.n AS n,
         CAST(t.sx1 - f.sx1 AS DOUBLE) AS sx1,
         CAST(t.sx2 - f.sx2 AS DOUBLE) AS sx2,
         CAST(t.sy - f.sy AS DOUBLE) AS sy,
         CAST(t.sx1x1 - f.sx1x1 AS DOUBLE) AS sx1x1,
         CAST(t.sx2x2 - f.sx2x2 AS DOUBLE) AS sx2x2,
         CAST(t.sx1x2 - f.sx1x2 AS DOUBLE) AS sx1x2,
         CAST(t.sx1y - f.sx1y AS DOUBLE) AS sx1y,
         CAST(t.sx2y - f.sx2y AS DOUBLE) AS sx2y
  FROM sf f JOIN tot t ON t.grp = f.grp
  WHERE t.n > f.n  -- a fold holding ALL of its group's rows has an
                   -- empty training complement: nothing to train, the
                   -- fold is dropped (both engines; /n guard)
),
c AS (
  SELECT grp, fold, n,
         sx1x1 - sx1 * sx1 / n + {_RIDGE_LAMBDA} AS a11,
         sx2x2 - sx2 * sx2 / n + {_RIDGE_LAMBDA} AS a22,
         sx1x2 - sx1 * sx2 / n AS a12,
         sx1y - sx1 * sy / n AS c1,
         sx2y - sx2 * sy / n AS c2,
         sx1, sx2, sy
  FROM tr
),
b AS (
  SELECT grp, fold, n AS n_train,
         ROUND((a22 * c1 - a12 * c2) / (a11 * a22 - a12 * a12), 6)
           AS beta1,
         ROUND((a11 * c2 - a12 * c1) / (a11 * a22 - a12 * a12), 6)
           AS beta2
  FROM c
),
bi AS (
  SELECT b.grp, b.fold, b.n_train, b.beta1, b.beta2,
         ROUND((c.sy - b.beta1 * c.sx1 - b.beta2 * c.sx2) / c.n, 6)
           AS intercept
  FROM b JOIN c ON c.grp = b.grp AND c.fold = b.fold
),
ev AS (
  SELECT l.l_returnflag AS grp, l.l_orderkey % {_CV_K} AS fold,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CAST(FLOOR(
           (l.l_extendedprice
            - (m.intercept + m.beta1 * l.l_quantity
               + m.beta2 * l.l_discount))
           * (l.l_extendedprice
              - (m.intercept + m.beta1 * l.l_quantity
                 + m.beta2 * l.l_discount)) * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS sse_lat
  FROM lineitem l
  JOIN bi m ON m.grp = l.l_returnflag
           AND m.fold = l.l_orderkey % {_CV_K}
  GROUP BY 1, 2
)
SELECT m.grp, CAST(m.fold AS BIGINT) AS fold,
       CAST(m.n_train AS BIGINT) AS n_train, e.n_test,
       m.beta1, m.beta2, m.intercept,
       sqrt((CAST(e.sse_lat AS DOUBLE) / 100.0) / e.n_test) AS rmse
FROM bi m JOIN ev e ON e.grp = m.grp AND e.fold = m.fold
"""


@query("ml_kfold_cv", oracle=_KFOLD_SQL)
def ml_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validated ridge regression where ALL k trainings
    cost ONE fact scan: the model is closed-form in nine sufficient
    statistics (ml_ridge_closed_form), and fold f's TRAINING moments
    are the group totals MINUS fold f's moments — the leave-fold-out
    subtraction trick (agg_jackknife_ci's identity lifted from a mean
    to a full regression). The EVALUATION layer ml_pit_features guards
    in time, this guards in expectation: per (group, fold) the
    held-out RMSE of a model that never saw the fold — the number that
    exposes overfitting where a train-set RMSE cannot. Fold assignment
    is deterministic (l_orderkey % {_CV_K}), so the split itself is
    reproducible and oracle-checkable.

    Determinism: per-(group, fold) moments accumulate in DECIMAL and
    the complements are DECIMAL SUBTRACTIONS — exact, so 'total minus
    fold' equals the moments a separate train-side scan would produce,
    with no float cancellation; betas/intercepts take the ridge op's
    ROUND(6); held-out squared residuals snap to a FLOOR(r²·100+0.5)
    BIGINT lattice per row (exact integer SSE — double accumulation
    order would diverge cross-engine); RMSE is sqrt of an
    integer-ratio double (IEEE-exact, unrounded). SSE headroom:
    ~1e12/row·cell — int64-safe past SF 10 per cell; ANSI loud beyond.

    Scale: scan 1 partial-aggregates to the (group, fold) moment grain
    (K·folds rows); training is closed-form algebra on that frame;
    scan 2 joins the 15-row broadcast model table and
    partial-aggregates the SSE — two fact passes total, zero
    shuffles beyond the two aggregations, independent of k."""
    li = load_parallel(spark, sf_dir, "lineitem")
    x1, x2, y = (
        F.col("l_quantity"),
        F.col("l_discount"),
        F.col("l_extendedprice"),
    )
    fold = (F.col("l_orderkey") % _CV_K).alias("fold")

    sf_ = pin(li.groupBy(F.col("l_returnflag").alias("grp"), fold).agg(
        F.count("*").alias("n"),
        F.sum(x1.cast(DEC)).alias("sx1"),
        F.sum(x2.cast(DEC)).alias("sx2"),
        F.sum(y.cast(DEC)).alias("sy"),
        F.sum((x1 * x1).cast(DEC_WIDE)).alias("sx1x1"),
        F.sum((x2 * x2).cast(DEC_WIDE)).alias("sx2x2"),
        F.sum((x1 * x2).cast(DEC_WIDE)).alias("sx1x2"),
        F.sum((x1 * y).cast(DEC_WIDE)).alias("sx1y"),
        F.sum((x2 * y).cast(DEC_WIDE)).alias("sx2y"),
    ))  # 15-row moment frame, fed to tot AND tr
    # — Spark shares no subplan results across references (ADVICE r10:
    # without this the lineitem moment aggregation can run up to 4x in
    # one plan), so the fold-moment scan is pinned to exactly one pass.
    # r12 (the §3 parsed-SQL rule): everything below the checkpoint is
    # ≤15-row algebra whose COLUMN-BUILDER form cost ~0.5 s of py4j
    # round-trips per build (measured with the checkpoint split out).
    # selectExpr strings parse to the identical Catalyst trees (same
    # op order, same ROUND placement; double literals carry the D
    # suffix so no DECIMAL literal sneaks in), so every emitted value
    # is bit-identical — oracle hash unchanged.
    mom = ["sx1", "sx2", "sy", "sx1x1", "sx2x2", "sx1x2", "sx1y", "sx2y"]
    tot = sf_.groupBy("grp").agg(
        F.expr("SUM(n) AS tn"),
        *[F.expr(f"SUM({m}) AS t{m}") for m in mom],
    )
    tr = (
        sf_.join(F.broadcast(tot), "grp")
        # empty training complement (the fold holds ALL of its group's
        # rows — degencheck's single-row returnflag group) → no model;
        # drop the fold on both engines before the /n moment algebra
        .filter("tn > n")
        .selectExpr(
            "grp",
            "fold",
            "tn - n AS n",
            *[f"CAST(t{m} - {m} AS DOUBLE) AS {m}" for m in mom],
        )
    )
    lam = f"{_RIDGE_LAMBDA}D"
    a11 = f"(sx1x1 - sx1 * sx1 / n + {lam})"
    a22 = f"(sx2x2 - sx2 * sx2 / n + {lam})"
    a12 = "(sx1x2 - sx1 * sx2 / n)"
    c1 = "(sx1y - sx1 * sy / n)"
    c2 = "(sx2y - sx2 * sy / n)"
    det = f"({a11} * {a22} - {a12} * {a12})"
    beta1 = f"round(({a22} * {c1} - {a12} * {c2}) / {det}, 6)"
    beta2 = f"round(({a11} * {c2} - {a12} * {c1}) / {det}, 6)"
    model = tr.selectExpr(
        "grp",
        "fold",
        "n AS n_train",
        f"{beta1} AS beta1",
        f"{beta2} AS beta2",
        f"round((sy - {beta1} * sx1 - {beta2} * sx2) / n, 6) AS intercept",
    )  # referenced by ev's broadcast AND the final join — both re-derive
    # it lazily from the CHECKPOINTED sf_ frame: ≤15-row algebra twice
    # beats the extra eager driver job the r11 checkpoint paid (r12)
    resid = (
        "(l_extendedprice - (intercept + beta1 * l_quantity"
        " + beta2 * l_discount))"
    )
    ev = (
        li.selectExpr(
            "l_returnflag AS grp",
            f"l_orderkey % {_CV_K} AS fold",
            "l_quantity",
            "l_discount",
            "l_extendedprice",
        )
        .join(F.broadcast(model), ["grp", "fold"])
        .selectExpr(
            "grp",
            "fold",
            f"CAST(FLOOR({resid} * {resid} * 100 + 0.5D) AS BIGINT)"
            " AS r2lat",
        )
        .groupBy("grp", "fold")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT) AS n_test"),
            F.expr("CAST(SUM(r2lat) AS BIGINT) AS sse_lat"),
        )
    )
    return model.join(ev, ["grp", "fold"]).selectExpr(
        "grp",
        "CAST(fold AS BIGINT) AS fold",
        "CAST(n_train AS BIGINT) AS n_train",
        "n_test",
        "beta1",
        "beta2",
        "intercept",
        "SQRT((CAST(sse_lat AS DOUBLE) / 100.0D) / n_test) AS rmse",
    )


# ---------------------------------------------------------------------------
# Linear-model SHAP attributions (explainability over the ridge model)

_SHAP_SQL = f"""
WITH s AS (
  SELECT l_returnflag AS grp,
         COUNT(*) AS n,
         {sql_dsum("l_quantity")} AS sx1,
         {sql_dsum("l_discount")} AS sx2,
         {sql_dsum("l_extendedprice")} AS sy,
         {sql_dsum("l_quantity * l_quantity", DEC_WIDE)} AS sx1x1,
         {sql_dsum("l_discount * l_discount", DEC_WIDE)} AS sx2x2,
         {sql_dsum("l_quantity * l_discount", DEC_WIDE)} AS sx1x2,
         {sql_dsum("l_quantity * l_extendedprice", DEC_WIDE)} AS sx1y,
         {sql_dsum("l_discount * l_extendedprice", DEC_WIDE)} AS sx2y
  FROM lineitem GROUP BY 1
),
c AS (
  SELECT grp, n, sx1 / n AS mu1, sx2 / n AS mu2,
         sx1x1 - sx1 * sx1 / n + {_RIDGE_LAMBDA} AS a11,
         sx2x2 - sx2 * sx2 / n + {_RIDGE_LAMBDA} AS a22,
         sx1x2 - sx1 * sx2 / n AS a12,
         sx1y - sx1 * sy / n AS c1,
         sx2y - sx2 * sy / n AS c2
  FROM s
),
model AS (
  SELECT grp, n, mu1, mu2,
         ROUND((a22 * c1 - a12 * c2) / (a11 * a22 - a12 * a12), 6) AS beta1,
         ROUND((a11 * c2 - a12 * c1) / (a11 * a22 - a12 * a12), 6) AS beta2
  FROM c
),
dev AS (
  SELECT l.l_returnflag AS grp,
         CAST(SUM(CAST(FLOOR(ABS(l.l_quantity - m.mu1) * 1e6 + 0.5)
                       AS BIGINT)) AS BIGINT) AS sad1,
         CAST(SUM(CAST(FLOOR(ABS(l.l_discount - m.mu2) * 1e6 + 0.5)
                       AS BIGINT)) AS BIGINT) AS sad2
  FROM lineitem l JOIN model m ON m.grp = l.l_returnflag
  GROUP BY 1
),
mas AS (
  SELECT m.grp, m.n, m.beta1, m.beta2,
         ABS(m.beta1) * (CAST(d.sad1 AS DOUBLE) / 1e6 / m.n) AS mas1,
         ABS(m.beta2) * (CAST(d.sad2 AS DOUBLE) / 1e6 / m.n) AS mas2
  FROM model m JOIN dev d ON d.grp = m.grp
)
SELECT grp, feature, beta, mean_abs_shap,
       CASE WHEN mas1 + mas2 > 0 THEN mean_abs_shap / (mas1 + mas2) END
         AS share
FROM (
  SELECT grp, 'quantity' AS feature, beta1 AS beta, mas1 AS mean_abs_shap,
         mas1, mas2 FROM mas
  UNION ALL
  SELECT grp, 'discount', beta2, mas2, mas1, mas2 FROM mas
) t
"""


@query("ml_linear_shap", oracle=_SHAP_SQL)
def ml_linear_shap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feature SHAP attributions of the closed-form ridge model —
    the EXPLAINABILITY layer the training family lacked: for a linear
    model the exact Shapley value of feature j on a row is
    βⱼ·(xⱼ − μⱼ) (independence-form SHAP — Lundberg & Lee's linear
    case), so global feature importance is mean|SHAP| =
    |βⱼ|·mean|xⱼ − μⱼ| and `share` ranks features on a [0,1] scale.
    Same model as ml_ridge_closed_form (price on quantity+discount per
    return flag), so the attribution is auditable against its betas;
    the analogous tree path would read ml_gbm_stumps' split gains.

    Determinism: moments are exact decimals (the ridge recipe); betas
    take the ridge op's ROUND(6); μⱼ is an exact-sum / count double —
    identical both engines — so each row's FLOOR(|x − μ|·1e6 + 0.5)
    lattice term is the same integer and the per-group sum is an
    order-independent BIGINT; mean|SHAP| and share are fixed IEEE
    trees over those (share guarded: a group with zero total
    attribution — both features constant, degencheck — yields NULL,
    never a divide error).

    Scale: two fact passes (one partial-aggregable moment scan, one
    deviation scan against the broadcast 3-row model), the k-fold
    discipline without the folds; everything after is algebra on
    K-row frames."""
    li = load_parallel(spark, sf_dir, "lineitem")
    x1, x2, y = (
        F.col("l_quantity"),
        F.col("l_discount"),
        F.col("l_extendedprice"),
    )

    s = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count("*").alias("n"),
        dsum(x1).alias("sx1"),
        dsum(x2).alias("sx2"),
        dsum(y).alias("sy"),
        dsum(x1 * x1, DEC_WIDE).alias("sx1x1"),
        dsum(x2 * x2, DEC_WIDE).alias("sx2x2"),
        dsum(x1 * x2, DEC_WIDE).alias("sx1x2"),
        dsum(x1 * y, DEC_WIDE).alias("sx1y"),
        dsum(x2 * y, DEC_WIDE).alias("sx2y"),
    )
    n = F.col("n")
    a11 = F.col("sx1x1") - F.col("sx1") * F.col("sx1") / n + F.lit(
        _RIDGE_LAMBDA
    )
    a22 = F.col("sx2x2") - F.col("sx2") * F.col("sx2") / n + F.lit(
        _RIDGE_LAMBDA
    )
    a12 = F.col("sx1x2") - F.col("sx1") * F.col("sx2") / n
    c1 = F.col("sx1y") - F.col("sx1") * F.col("sy") / n
    c2 = F.col("sx2y") - F.col("sx2") * F.col("sy") / n
    det = a11 * a22 - a12 * a12
    model = pin(s.select(
        "grp",
        "n",
        (F.col("sx1") / n).alias("mu1"),
        (F.col("sx2") / n).alias("mu2"),
        F.round((a22 * c1 - a12 * c2) / det, 6).alias("beta1"),
        F.round((a11 * c2 - a12 * c1) / det, 6).alias("beta2"),
    ))  # 3 rows; feeds the dev scan AND mas
    # r12 (the §3 parsed-SQL rule, same as ml_kfold_cv): the Column-
    # builder form of everything below the checkpoint cost ~0.2-0.3 s
    # of py4j plan construction per build; the selectExpr strings parse
    # to identical trees (double literals carry D; 1e6 stays the same
    # double), so every value is bit-identical.
    dev = (
        li.selectExpr("l_returnflag AS grp", "l_quantity", "l_discount")
        .join(F.broadcast(model.select("grp", "mu1", "mu2")), "grp")
        .selectExpr(
            "grp",
            "CAST(FLOOR(ABS(l_quantity - mu1) * 1.0E6 + 0.5D) AS BIGINT)"
            " AS ad1",
            "CAST(FLOOR(ABS(l_discount - mu2) * 1.0E6 + 0.5D) AS BIGINT)"
            " AS ad2",
        )
        .groupBy("grp")
        .agg(
            F.expr("CAST(SUM(ad1) AS BIGINT) AS sad1"),
            F.expr("CAST(SUM(ad2) AS BIGINT) AS sad2"),
        )
    )
    mas = model.join(dev, "grp").selectExpr(
        "grp",
        "beta1",
        "beta2",
        "ABS(beta1) * (CAST(sad1 AS DOUBLE) / 1.0E6 / n) AS mas1",
        "ABS(beta2) * (CAST(sad2 AS DOUBLE) / 1.0E6 / n) AS mas2",
    )
    # r12: both feature rows come out of ONE inline() over the lazy mas
    # frame — a single plan reference, so the r11 eager 3-row checkpoint
    # (one extra driver job) and the two-branch union disappear; the
    # emitted values are bit-identical (same IEEE trees).
    return mas.selectExpr(
        "grp",
        "inline(array("
        "  named_struct("
        "    'feature', 'quantity', 'beta', beta1,"
        "    'mean_abs_shap', mas1,"
        "    'share', CASE WHEN mas1 + mas2 > 0"
        "                  THEN mas1 / (mas1 + mas2) END),"
        "  named_struct("
        "    'feature', 'discount', 'beta', beta2,"
        "    'mean_abs_shap', mas2,"
        "    'share', CASE WHEN mas1 + mas2 > 0"
        "                  THEN mas2 / (mas1 + mas2) END)))",
    )
