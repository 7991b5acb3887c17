"""Deduplication operators (SURVEY.md §2.B [NS]: dedup_exact,
dedup_near_minhash, dedup_simhash, dedup_ngram_jaccard,
dedup_embedding_cosine).

The reference *needs* dedup by construction: its at-least-once
append-then-checkpoint order (fetch_data.py:158-162) re-appends the
in-flight page after a crash (SURVEY.md §1.3.5). Here dedup is a
first-class operator family at training-data-pipeline scale.

Everything below is deterministic and — unusually — fully
oracle-checkable, including MinHash and SimHash: signatures are built
from md5, the one hash function Spark and DuckDB share bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import SQL_SHINGLES3, kgrams, shingles3, tokens
from ..functions.vectors import spark_cosine_expr, sql_cosine
from .. import memo
from ..memo import pin
from ..registry import query
from ..tables import load, load_parallel


@query(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: hash-groupBy on md5(text), keep the
    lowest doc_id per group. At 100 TB this is the canonical shape —
    shuffle by content hash (uniform, skew-free by construction), one
    representative per group; `dropDuplicates(["text"])` plans the same
    but loses the keep-lowest determinism."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding, deterministic (12 hashes = 3 bands × 4 rows).
# h_s(shingle) = md5(s || ':' || shingle); signature_s = min over shingles;
# band key = md5(concat of its 4 signature values in seed order).
# ---------------------------------------------------------------------------
_N_HASHES = 12
_BAND_SIZE = 4

# Universal-hash family over the 31-bit Mersenne prime: one md5 per
# shingle (the only hash both engines share), then k cheap linear
# permutations (a·h + b) mod P. a·h ≤ 2^31·2^32 < 2^63: no overflow.
_MH_P = 2_147_483_647
_MH_A = (7, 13, 31, 61, 127, 251, 509, 1021, 2039, 4093, 8191, 16381)
_MH_B = (3, 17, 29, 47, 71, 89, 101, 131, 149, 173, 191, 211)


def _sql_band_keys() -> list[str]:
    bands = []
    for b in range(_N_HASHES // _BAND_SIZE):
        mhs = " || '|' || ".join(
            f"CAST(MIN(({_MH_A[s]} * hv + {_MH_B[s]}) % {_MH_P}) AS VARCHAR)"
            for s in range(b * _BAND_SIZE, (b + 1) * _BAND_SIZE)
        )
        bands.append(f"md5({mhs})")
    return bands


_MINHASH_CTE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
    SELECT doc_id, unnest({SQL_SHINGLES3.format(toks='t')}) AS shingle FROM toks
),
hv AS (
    SELECT doc_id,
           CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS hv
    FROM sh
),
sig AS (
    SELECT doc_id,
           {", ".join(f"{expr} AS bk{b}" for b, expr in enumerate(_sql_band_keys()))}
    FROM hv
    GROUP BY doc_id
),
bands AS (
    SELECT doc_id, CAST(unnest(generate_series(0, {_N_HASHES // _BAND_SIZE - 1})) AS INT) AS band,
           unnest([{", ".join(f"bk{b}" for b in range(_N_HASHES // _BAND_SIZE))}])
               AS band_key
    FROM sig
)
"""


_MINHASH_BANDS_CACHE: dict = memo.register({})


def _minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, band_key) — one LSH bucket key per band per doc.

    All _N_HASHES minhashes are computed as parallel MIN aggregates in a
    SINGLE pass over the exploded shingles (one shuffle keyed by doc_id,
    partial map-side mins). Cost discipline: exactly ONE md5 per shingle;
    the k-hash family is k linear permutations of that value — the
    seed-explode formulation both shuffles 12× the rows and pays 12
    md5s per shingle for the same answer.

    A localCheckpointed data memo (memo.cached on the documents
    fingerprint): in production the band index is persisted at ingest
    time, so a consumer never re-shingles the corpus. Matters doubly
    here because consumers reference the frame several times in ONE plan
    (dedup_incremental probes it four ways); without materialization
    each reference re-executes the whole shingle→minhash pipeline (the
    r10 benchguard 1.8x breach)."""
    return memo.cached(
        _MINHASH_BANDS_CACHE,
        spark,
        sf_dir,
        ("documents",),
        lambda: pin(_minhash_bands_build(spark, sf_dir)),
    )


def _minhash_bands_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The uncached band-index build (see _minhash_bands)."""
    d = load_parallel(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(shingles3("text")).alias("shingle")
    )
    hv = sh.select(
        "doc_id",
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long").alias("hv"),
    )
    min_aggs = [
        F.min((F.lit(_MH_A[s]) * F.col("hv") + _MH_B[s]) % _MH_P)
        .cast("string")
        .alias(f"mh{s}")
        for s in range(_N_HASHES)
    ]
    sig = hv.groupBy("doc_id").agg(*min_aggs)
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh{s}") for s in range(b * _BAND_SIZE, (b + 1) * _BAND_SIZE)]
            )
        ).alias(f"bk{b}")
        for b in range(_N_HASHES // _BAND_SIZE)
    ]
    keyed = sig.select("doc_id", *band_cols)
    pairs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"), F.col(f"bk{b}").alias("band_key")
            )
            for b in range(_N_HASHES // _BAND_SIZE)
        ]
    )
    return keyed.select(
        "doc_id", F.explode(pairs).alias("p")
    ).select("doc_id", F.col("p.band").alias("band"), F.col("p.band_key").alias("band_key"))


@query(
    "dedup_near_minhash",
    oracle=_MINHASH_CTE
    + """
SELECT band,
       COUNT(*) AS n_buckets,
       MAX(bucket_size) AS max_bucket_size,
       CAST(SUM(CASE WHEN bucket_size > 1 THEN bucket_size ELSE 0 END) AS BIGINT)
           AS docs_in_dup_buckets
FROM (
    SELECT band, band_key, COUNT(*) AS bucket_size
    FROM bands
    GROUP BY band, band_key
) b
GROUP BY band
""",
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection via MinHash + LSH banding, end to end:
    shingle (word 3-grams) → 12 minhash signatures → 3 band keys →
    bucket by band key; docs sharing any band key are near-dup
    candidates. Output is the per-band bucket histogram (candidate pairs
    come from joining on band_key — see tests for the pair extraction).

    Deterministic md5-based hash family makes the whole signature
    pipeline oracle-checkable — rare for LSH. `pyspark.ml.MinHashLSH`
    offers the same via approxSimilarityJoin; the explicit form is used
    here so the shuffle structure (explode → two hash-aggregations, all
    uniform keys) is visible and tunable. At 100 TB: shingle explosion
    is the big intermediate — band keys, not raw shingles, are what get
    joined."""
    bands = _minhash_bands(spark, sf_dir)
    buckets = bands.groupBy("band", "band_key").agg(
        F.count("*").alias("bucket_size")
    )
    return buckets.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.max("bucket_size").alias("max_bucket_size"),
        F.sum(
            F.when(F.col("bucket_size") > 1, F.col("bucket_size")).otherwise(0)
        ).alias("docs_in_dup_buckets"),
    )


@query(
    "dedup_near_minhash_pairs",
    oracle=_MINHASH_CTE
    + """
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
""",
)
def dedup_near_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The candidate-pair extraction of the MinHash/LSH pipeline: docs
    sharing any band key pair up (then production verifies each pair
    with exact Jaccard — dedup_ngram_jaccard — before dropping). The
    band-key equi-join is tiny relative to the corpus: only bucket
    contents multiply, and stop-shingle-free signatures keep buckets
    small."""
    bands = _minhash_bands(spark, sf_dir)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


@query(
    "dedup_cluster",
    oracle=_MINHASH_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + """
, pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
reach(doc_id, lab) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.doc_id
), comp AS (
  SELECT doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY doc_id
)
SELECT cluster_id, COUNT(*) AS cluster_size, MIN(doc_id) AS keep_doc_id
FROM comp GROUP BY cluster_id
""",
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the LSH candidate
    pairs via iterative label propagation — each doc adopts the minimum
    doc_id reachable through its edges until fixpoint. The dedup policy
    'keep one representative per duplicate CLUSTER' needs components,
    not pairs (A~B, B~C must collapse to one keeper even if A≁C).

    This is the engine's iterative-algorithm surface: a driver-side loop
    over declarative joins, each iteration one shuffle, convergence
    checked with a cheap aggregate; iterations are O(component
    diameter) — near-dup clusters are shallow, so 3-6 rounds suffice at
    any corpus size (large-diameter graphs would use the
    alternating-large/small-star optimization). Oracle: a RECURSIVE CTE
    computing the transitive closure's per-node minimum — fine for the
    gate's corpus, quadratic per component in general, which is exactly
    why the engine side iterates label propagation instead. Planted-
    cluster recovery is additionally pinned in tests/test_extensions.py."""
    labels = _minhash_cc_labels(spark, sf_dir)
    return (
        labels.groupBy("label")
        .agg(F.count("*").alias("cluster_size"), F.min("node").alias("keep_doc_id"))
        .select(
            F.col("label").alias("cluster_id"), "cluster_size", "keep_doc_id"
        )
    )


_CC_LABEL_CACHE: dict = memo.register({})
_CUR_STAGE_CACHE: dict = memo.register({})


def _curation_stage_frames(spark: SparkSession, sf_dir: str):
    """(gated, exact) survivor frames of the curation DAG's first two
    stages — quality gate, then md5 keep-lowest exact dedup — a data
    memo (memo.cached) and checkpointed, so curation_audit and
    curation_lineage (which are the GROUP BY and the row view of the
    SAME DAG) compute them once per evaluation. At 100 TB each stage's
    output is a persisted table; this is that read path."""

    def build():
        d = load_parallel(spark, sf_dir, "documents")
        toks = F.split(F.col("text"), " ")
        n_tok = F.size(toks)
        avg_word = F.length("text") / F.greatest(n_tok, F.lit(1))
        gated = d.filter(
            (n_tok >= CUR_MIN_TOKENS) & (avg_word <= CUR_MAX_WORD_LEN)
        )
        keep_exact = gated.groupBy(F.md5("text").alias("h")).agg(
            F.min("doc_id").alias("doc_id")
        )
        exact = pin(
            gated.join(keep_exact, "doc_id", "leftsemi")
            .select("doc_id")
        )
        gated_ids = pin(gated.select("doc_id"))
        return gated_ids, exact

    return memo.cached(_CUR_STAGE_CACHE, spark, sf_dir, ("documents",), build)


def _minhash_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component labels over the LSH candidate pairs, a data
    memo (memo.cached): dedup_cluster, curation_audit and
    curation_lineage all consume the SAME band join + label
    propagation, and the loop's final frame is already
    localCheckpoint'd — sharing it turns the 2nd/3rd consumer's most
    expensive subtree into a metadata hit (VERDICT r3 item 7). At
    100 TB this is the persisted cluster-assignment table every
    curation stage reads."""
    return memo.cached(
        _CC_LABEL_CACHE,
        spark,
        sf_dir,
        ("documents",),
        lambda: _connected_components(
            dedup_near_minhash_pairs(spark, sf_dir), "doc_a", "doc_b"
        ),
    )


def _connected_components(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Min-label propagation with pointer jumping to fixpoint over an
    undirected pair list → (node, label) where label = the component's
    minimum id. Each round does (1) the neighbor-min hop and (2) a
    label-of-label shortcut — the hop alone converges in O(diameter)
    rounds, which long chains (observed in the sf0.1 cosine graph) blow
    past any fixed cap; with the shortcut the min's reach roughly
    doubles per round, so 16 rounds covers diameters past 2^16. Two
    shuffles per round over edges/labels only; lineage truncated per
    round (shared by dedup_cluster and dedup_semantic_cluster)."""
    edges = pin(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        # materialize once: pair extraction (LSH band join / blocked
        # cosine join) is the expensive subtree, and every round joins
        # edges twice — without this the loop re-runs it every iteration
    )
    labels = pin(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(16):  # log-diameter bound; loop exits early at fixpoint
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # pointer jumping: adopt the label currently held by one's label
        lab_map = stepped.select(
            F.col("node").alias("pj_node"), F.col("label").alias("pj_label")
        )
        new_labels = pin(
            stepped.join(lab_map, stepped.label == lab_map.pj_node, "left")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("pj_label"), F.col("label")),
                ).alias("label"),
            )
            # truncate lineage each round or the plan grows exponentially
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


@query(
    "dedup_simhash",
    oracle="""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
hashed AS (
    SELECT doc_id,
           CAST(('0x' || substring(md5(tok), 1, 4)) AS INT) AS hv
    FROM toks
),
bits AS (
    SELECT doc_id, hv, unnest(generate_series(0, 15)) AS b FROM hashed
),
bitsum AS (
    SELECT doc_id, b,
           SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM bits
    GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (1 << b) ELSE 0 END) AS BIGINT) AS simhash16
FROM bitsum
GROUP BY doc_id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit here; 64-bit in production) — per-token md5,
    sign-sum each bit position over the document, majority bit wins.
    Near-dups are docs within small Hamming distance of each other
    (pairs via banding the simhash into chunks, same LSH trick as
    MinHash). Token multiplicity weights naturally."""
    d = load_parallel(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    hashed = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int").alias("hv"),
    )
    bits = hashed.select(
        "doc_id",
        "hv",
        F.explode(F.array(*[F.lit(b) for b in range(16)])).alias("b"),
    )
    # shiftright/shiftleft builtins need a literal shift amount; the SQL
    # expression form accepts a column.
    bitsum = bits.groupBy("doc_id", "b").agg(
        F.sum(
            F.when(F.expr("(hv >> b) & 1") == 1, 1).otherwise(-1)
        ).alias("s")
    )
    return bitsum.groupBy("doc_id").agg(
        F.sum(F.when(F.col("s") > 0, F.expr("shiftleft(1, b)")).otherwise(0))
        .cast("bigint")
        .alias("simhash16")
    )


_STOP_SHINGLE_DF = 100

# The stop-shingled pair counts of dedup_ngram_jaccard and
# dedup_containment, one definition per engine. `_SHINGLE_PAIRS_SQL` is
# the oracle CTE chain ending in `sizes(doc_id, n)` and
# `inter(doc_a, doc_b, c)`; it follows `WITH`.
_SHINGLE_PAIRS_SQL = f"""toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
    SELECT doc_id, unnest({SQL_SHINGLES3.format(toks='t')}) AS shingle FROM toks
),
ds_all AS (SELECT DISTINCT doc_id, shingle FROM sh),
ds AS (
    SELECT doc_id, shingle
    FROM (SELECT doc_id, shingle,
                 COUNT(*) OVER (PARTITION BY shingle) AS df
          FROM ds_all) t
    WHERE df <= {_STOP_SHINGLE_DF}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
    FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)"""


def _shingle_pairs(spark: SparkSession, sf_dir: str):
    """Lazy `(sizes, inter)`, the Spark twin of `_SHINGLE_PAIRS_SQL`:
    each document's distinct word 3-gram set, minus the stop shingles
    found in more than `_STOP_SHINGLE_DF` documents; `sizes` is each
    set's size and `inter` the |A∩B| of every pair sharing a shingle,
    from the inverted-index self-join on shingle."""
    d = load_parallel(spark, sf_dir, "documents")
    ds_all = (
        d.select("doc_id", F.explode(shingles3("text")).alias("shingle"))
        .distinct()
    )
    # df via a window partitioned by shingle: the same hash partitioning
    # the self-join needs, so no extra standalone aggregation + semi-join.
    wdf = Window.partitionBy("shingle")
    # no checkpoint here: the three consumers (sizes, both self-join
    # sides) hash-partition identically, so ReusedExchange already
    # computes the explode+distinct+window chain once — measured
    # identical with/without materialization. At 100 TB you'd still
    # persist this inverted index to parquet across *jobs*.
    ds = (
        ds_all.withColumn("df", F.count("*").over(wdf))
        .filter(F.col("df") <= _STOP_SHINGLE_DF)
        .drop("df")
    )
    sizes = ds.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = ds.alias("a")
    b = ds.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("c"))
    )
    return sizes, inter


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_SHINGLE_PAIRS_SQL}
SELECT i.doc_a, i.doc_b,
       ROUND(CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c) >= 0.02
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity join with stop-shingle removal:
    shingles appearing in more than 100 documents carry
    no near-dup signal but generate the quadratic worst-case buckets of
    the inverted-index self-join, so they are dropped from the universe
    FIRST (both sizes and intersections are over the capped sets —
    standard stop-shingling, and what bounds the join at 100 TB). Then:
    inverted-index self-join on shingle (only docs sharing ≥1 rare
    shingle ever pair), |A∩B| by count, |A∪B| by inclusion-exclusion.
    The 0.02 threshold keeps the candidate set honest for synthetic
    data; production near-dup uses ~0.8. MinHash (dedup_near_minhash)
    is the sub-quadratic alternative."""
    sizes, inter = _shingle_pairs(spark, sf_dir)
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("c").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("c")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.02)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


_CONTAIN_TAU = 0.1


@query(
    "dedup_containment",
    oracle=f"""
WITH {_SHINGLE_PAIRS_SQL},
directed AS (
    SELECT i.doc_a AS doc_src, i.doc_b AS doc_dst,
           CAST(i.c AS DOUBLE) / sa.n AS containment
    FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
    UNION ALL
    SELECT i.doc_b AS doc_src, i.doc_a AS doc_dst,
           CAST(i.c AS DOUBLE) / sb.n AS containment
    FROM inter i JOIN sizes sb ON sb.doc_id = i.doc_b
)
SELECT doc_src, doc_dst, containment
FROM directed WHERE containment >= {_CONTAIN_TAU}
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment C(src→dst) = |S(src)∩S(dst)|/|S(src)|
    — the asymmetric companion to dedup_ngram_jaccard. Jaccard misses
    the commonest real near-dup at corpus scale: a short document wholly
    quoted inside a much longer one (|A∩B|/|A∪B| stays tiny while
    |A∩B|/|A| ≈ 1). Same stop-shingled inverted-index self-join as the
    Jaccard operator (one symmetric intersection count), then each pair
    projects into BOTH directions with its own denominator — no second
    join pass. Containment values are integer-count ratios, bitwise
    identical across engines (registry.py rules: don't round them)."""
    sizes, inter = _shingle_pairs(spark, sf_dir)
    fwd = (
        inter.join(sizes, inter.doc_a == sizes.doc_id)
        .select(
            F.col("doc_a").alias("doc_src"),
            F.col("doc_b").alias("doc_dst"),
            (F.col("c").cast("double") / F.col("n")).alias("containment"),
        )
    )
    rev = (
        inter.join(sizes, inter.doc_b == sizes.doc_id)
        .select(
            F.col("doc_b").alias("doc_src"),
            F.col("doc_a").alias("doc_dst"),
            (F.col("c").cast("double") / F.col("n")).alias("containment"),
        )
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= _CONTAIN_TAU)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({sql_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND({sql_cosine('a.embedding', 'b.embedding')}, 6) > 0.3
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup: pairwise cosine within a blocking key
    (label here; at scale the block key is an LSH bucket or IVF cell, cf.
    sim_search_ivf) — never the unblocked O(n²) cross join. Pure
    higher-order functions for the dot products; no UDF."""
    e = load(spark, sf_dir, "embeddings")
    a = e.alias("a")
    b = e.alias("b")
    # threshold on the ROUNDED cosine so the pair set can't differ by a
    # last-ulp fold-order divergence between engines
    cos = F.expr(
        f"ROUND({spark_cosine_expr('a.embedding', 'b.embedding')}, 6)"
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos > 0.3)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos_sim"),
        )
    )


_CHUNK_WORDS = 10


@query(
    "dedup_paragraph",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
         UNNEST(string_split(text, ' ')) AS tok
  FROM documents
), chunks AS (
  SELECT doc_id, CAST(FLOOR(pos / {_CHUNK_WORDS}) AS BIGINT) AS cpos,
         string_agg(tok, ' ' ORDER BY pos) AS ctext
  FROM toks GROUP BY 1, 2
), ranked AS (
  SELECT doc_id, cpos, ctext,
         row_number() OVER (PARTITION BY md5(ctext)
                            ORDER BY doc_id, cpos) AS rn
  FROM chunks
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(COALESCE(string_agg(ctext, ' ' ORDER BY cpos) FILTER (rn = 1),
                    '')) AS kept_md5
FROM ranked
GROUP BY doc_id
""",
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level (here: 10-word-chunk) dedup across the whole
    corpus — the boilerplate-removal pass of a training-data pipeline:
    every repeated chunk keeps only its first occurrence in corpus order
    (doc_id, position), documents are reconstructed from their surviving
    chunks, and the per-doc audit row carries total/kept counts plus the
    md5 of the reconstructed text (proving the round trip, not just the
    counts).

    Shuffle story: tokenize+chunk is map-side (posexplode + one
    hash-agg back to chunk grain); global first-occurrence is ONE
    window over md5(chunk) — at 100 TB that shuffle carries one row per
    chunk, partitioned by content hash, so it's uniform by construction
    (hash keys can't skew); reconstruction re-aggregates by doc_id.
    Three exchanges total, each at a different natural grain
    (doc×chunk, hash, doc). Within-doc repeats dedupe too (earliest
    position wins) — stated semantics, same on both engines."""
    d = load_parallel(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    chunks = (
        toks.groupBy(
            "doc_id",
            F.floor(F.col("pos") / _CHUNK_WORDS).cast("long").alias("cpos"),
        )
        .agg(
            F.expr(
                "concat_ws(' ', transform("
                "array_sort(collect_list(struct(pos, tok))), s -> s.tok))"
            ).alias("ctext")
        )
    )
    w = Window.partitionBy(F.md5("ctext")).orderBy("doc_id", "cpos")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    kept = "filter(array_sort(collect_list(struct(cpos, rn, ctext))), s -> s.rn = 1)"
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.expr(f"md5(concat_ws(' ', transform({kept}, s -> s.ctext)))").alias(
            "kept_md5"
        ),
    )


@query(
    "dedup_url",
    oracle="""
WITH raw AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'https://Data.GOV.in/resource/' ||
                       CAST(doc_id // 4 AS VARCHAR) || '?page=2'
           WHEN 1 THEN 'https://data.gov.in/resource/' ||
                       CAST(doc_id // 4 AS VARCHAR) || '/?page=2'
           WHEN 2 THEN 'https://data.gov.in/resource/' ||
                       CAST(doc_id // 4 AS VARCHAR) ||
                       '?utm_source=feed&page=2&utm_campaign=x'
           ELSE 'https://data.gov.in:443/resource/' ||
                CAST(doc_id // 4 AS VARCHAR) || '?page=2#section'
         END AS url
  FROM documents
), stripped AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(regexp_replace(url, '#.*$', ''), '[?]', '&'),
             '&utm_[a-z]+=[^&]*', '', 'g'),
           '^([^&]*)&', '\\1?') AS u
  FROM raw
), canon AS (
  SELECT doc_id,
         'https://' ||
         regexp_replace(lower(regexp_extract(u, '^https://([^/?#&]+)', 1)),
                        ':443$', '') ||
         regexp_replace(regexp_extract(regexp_extract(u, '^https://[^/?#&]+(.*)$', 1),
                                       '^([^?]*)', 1), '/$', '') ||
         regexp_extract(regexp_extract(u, '^https://[^/?#&]+(.*)$', 1),
                        '([?].*)$', 1) AS canonical_url
  FROM stripped
)
SELECT canonical_url,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_variants
FROM canon
GROUP BY canonical_url
""",
)
def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the web-corpus shape of `dedup_exact`:
    the same resource reached through case-variant hosts, default ports,
    trailing slashes, fragments, and utm_* tracking params collapses to
    one canonical key. The fixture synthesizes four wire-variants of
    each resource id from doc_id (mod 4) — including tracking params
    interleaved AROUND a real param — so every canonical group is a
    real multi-variant cluster. Canonicalization is a pure column
    pipeline: strip fragment → normalize '?' to '&' → strip utm_*
    params anywhere in the string → restore the first separator to
    '?' → lowercase host, drop :443 → strip the trailing slash of the
    PATH (not of the query). The '?'→'&'→'?' round trip is what makes
    utm-stripping position-independent: without it, removing a leading
    '?utm_...' would orphan the next parameter's separator.

    Every step is regexp_replace/regexp_extract/lower in the RE2∩Java
    subset (registry.py rules; DuckDB needs the explicit 'g' flag where
    Spark's regexp_replace is global by default, and spells the
    restore backreference '\\1' where Java spells it '$1'). Scale:
    canonicalization is row-local (zero shuffle); the group-by shuffles
    one row per URL keyed by canonical hash — uniform by construction,
    like dedup_exact.
    """
    d = load(spark, sf_dir, "documents").select("doc_id")
    rid = F.expr("doc_id div 4").cast("string")
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("https://Data.GOV.in/resource/"), rid, F.lit("?page=2")
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("https://data.gov.in/resource/"), rid, F.lit("/?page=2")
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://data.gov.in/resource/"),
                rid,
                F.lit("?utm_source=feed&page=2&utm_campaign=x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://data.gov.in:443/resource/"),
                rid,
                F.lit("?page=2#section"),
            )
        )
    )
    u = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.regexp_replace(url, r"#.*$", ""), r"[?]", "&"),
            r"&utm_[a-z]+=[^&]*",
            "",
        ),
        r"^([^&]*)&",
        r"$1?",
    )
    host = F.regexp_replace(
        F.lower(F.regexp_extract(u, r"^https://([^/?#&]+)", 1)), r":443$", ""
    )
    rest = F.regexp_extract(u, r"^https://[^/?#&]+(.*)$", 1)
    path = F.regexp_replace(F.regexp_extract(rest, r"^([^?]*)", 1), r"/$", "")
    qry = F.regexp_extract(rest, r"([?].*)$", 1)
    canonical = F.concat(F.lit("https://"), host, path, qry)
    return (
        d.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_variants"),
        )
    )


@query(
    "dedup_semantic_cluster",
    oracle=f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND({sql_cosine('a.embedding', 'b.embedding')}, 6) > 0.3
), edges AS MATERIALIZED (
  SELECT va AS src, vb AS dst FROM pairs
  UNION ALL
  SELECT vb AS src, va AS dst FROM pairs
), nodes AS (SELECT DISTINCT src AS vec_id FROM edges),
reach(vec_id, lab) AS (
  SELECT vec_id, vec_id FROM nodes
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.vec_id
), comp AS (
  SELECT vec_id, MIN(lab) AS cluster_id FROM reach GROUP BY vec_id
)
SELECT cluster_id, COUNT(*) AS cluster_size, MIN(vec_id) AS keep_vec_id
FROM comp GROUP BY cluster_id
""",
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC near-dup clustering: connected components over the
    embedding-cosine pair graph (dedup_embedding_cosine's edges) — the
    'paraphrase cluster' dedup policy, where textually different but
    semantically identical documents collapse to one representative.
    Same min-label propagation as dedup_cluster (shared helper), same
    recursive-CTE transitive-closure oracle, so the iterative engine
    path is machine-checked on a SECOND edge geometry.

    At 100 TB the pair graph comes from the blocked cosine join (LSH
    cell or IVF cell as the block key — sim_search_lsh_rp's bucket
    column); components then cost one shuffle per diameter round over
    edges only, never over vectors."""
    pairs = dedup_embedding_cosine(spark, sf_dir).select("vec_a", "vec_b")
    labels = _connected_components(pairs, "vec_a", "vec_b")
    return (
        labels.groupBy("label")
        .agg(F.count("*").alias("cluster_size"), F.min("node").alias("keep_vec_id"))
        .select(
            F.col("label").alias("cluster_id"), "cluster_size", "keep_vec_id"
        )
    )


@query(
    "dedup_exact_normalized",
    oracle="""
WITH norm AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS nh,
         md5(text) AS rh
  FROM documents
)
SELECT nh AS norm_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_members,
       CAST(COUNT(DISTINCT rh) AS BIGINT) AS n_raw_variants
FROM norm
GROUP BY nh
""",
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup: hash AFTER lowercasing, trimming and
    collapsing whitespace — the canonical-form pass that catches the
    re-encoded copies byte-exact dedup (dedup_exact) misses while
    staying fully exact (no similarity threshold to tune). Reporting
    n_raw_variants > 1 per group shows precisely what normalization
    bought. Same skew-free md5-keyed shuffle as dedup_exact; the
    normalization chain is row-local regexp inside codegen. The
    reference's own safe_name (fetch_data.py:36-40) is this idea
    applied to partition keys; here it applies to content."""
    d = load(spark, sf_dir, "documents")
    norm = F.md5(
        F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    )
    return (
        d.select("doc_id", norm.alias("nh"), F.md5("text").alias("rh"))
        .groupBy(F.col("nh").alias("norm_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_members"),
            F.count_distinct("rh").alias("n_raw_variants"),
        )
    )


_LEV_PREFIX = 60
_LEV_MAX = 40


@query(
    "dedup_levenshtein",
    oracle=f"""
WITH k AS (
  SELECT doc_id, lang, text,
         string_split(text, ' ')[1] AS w0,
         CAST(length(text) // 20 AS BIGINT) AS lb
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(substring(a.text, 1, {_LEV_PREFIX}),
                        substring(b.text, 1, {_LEV_PREFIX})) AS BIGINT) AS lev
FROM k a
JOIN k b
  ON a.lang = b.lang AND a.w0 = b.w0 AND a.lb = b.lb
 AND a.doc_id < b.doc_id
WHERE levenshtein(substring(a.text, 1, {_LEV_PREFIX}),
                  substring(b.text, 1, {_LEV_PREFIX})) <= {_LEV_MAX}
""",
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification — the character-level
    complement of the token-level MinHash/Jaccard family (OCR noise,
    typo farms, template fills that token shingles miss). The blocking
    discipline is the family's usual one: candidate pairs must share a
    (lang, first-token, length-bucket) block BEFORE any distance is
    computed, so the quadratic term is bounded per block and the
    expensive levenshtein runs on candidates only — and on a fixed
    60-char prefix, keeping the DP cost O(prefix²), not
    O(doc²). Levenshtein is exact-integer on both engines, so the pair
    set is oracle-checked outright (no recall bound needed). The
    40 threshold is calibrated to the synthetic corpus (word
    salads rarely collide below it; exact-prefix pairs sit at 0). At
    100 TB the block key is the shuffle key; block-size caps
    (dedup_ngram_jaccard's stop-shingle rule) apply unchanged."""
    d = load_parallel(spark, sf_dir, "documents")
    k = d.select(
        "doc_id",
        "lang",
        "text",
        F.split("text", " ").getItem(0).alias("w0"),
        F.expr("length(text) div 20").alias("lb"),
    )
    a, b = k.alias("a"), k.alias("b")
    lev = F.levenshtein(
        F.substring(F.col("a.text"), 1, _LEV_PREFIX),
        F.substring(F.col("b.text"), 1, _LEV_PREFIX),
    )
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.w0") == F.col("b.w0"))
            & (F.col("a.lb") == F.col("b.lb"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(lev <= _LEV_MAX)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            lev.cast("long").alias("lev"),
        )
    )


_MHE_SQL = _MINHASH_CTE + f""",
sigs AS (
    SELECT doc_id,
           {", ".join(f"MIN(({_MH_A[s]} * hv + {_MH_B[s]}) % {_MH_P}) AS mh{s}" for s in range(_N_HASHES))}
    FROM hv GROUP BY doc_id
),
shs AS (SELECT DISTINCT doc_id, shingle FROM sh),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
agree AS (
    SELECT c.doc_a, c.doc_b,
           CAST({" + ".join(f"CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END" for s in range(_N_HASHES))} AS BIGINT) AS n_agree
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
),
inter AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS n_int
    FROM cand c
    JOIN shs x ON x.doc_id = c.doc_a
    JOIN shs y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
    GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shs GROUP BY doc_id)
SELECT a.doc_a, a.doc_b, a.n_agree,
       a.n_agree / {_N_HASHES} AS est_jaccard,
       COALESCE(i.n_int, 0) / (za.n_sh + zb.n_sh - COALESCE(i.n_int, 0))
         AS exact_jaccard
FROM agree a
LEFT JOIN inter i ON i.doc_a = a.doc_a AND i.doc_b = a.doc_b
JOIN sizes za ON za.doc_id = a.doc_a
JOIN sizes zb ON zb.doc_id = a.doc_b
"""


@query("dedup_minhash_estimate_eval", oracle=_MHE_SQL)
def dedup_minhash_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash ESTIMATOR itself audited in-query (the sketch-family
    discipline: agg_countmin_sketch emits its overcount, this emits its
    Jaccard error): for every LSH candidate pair, the estimated Jaccard
    (fraction of the 12 signature slots that agree — MinHash's
    defining unbiased-estimator property) is laid beside the EXACT
    shingle-set Jaccard computed by an inverted-index intersection join
    on candidates only. Both are exact-integer count ratios, so the
    whole evaluation hash-matches the oracle unrounded.

    At 100 TB this is the calibration report that decides the
    band/row configuration: exact Jaccard is affordable precisely
    because it runs on the sub-quadratic candidate set, never
    all-pairs."""
    d = load_parallel(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(shingles3("text")).alias("shingle")
    )
    hv = sh.select(
        "doc_id",
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    sigs = hv.groupBy("doc_id").agg(
        *[
            F.min((F.lit(_MH_A[s]) * F.col("hv") + _MH_B[s]) % _MH_P).alias(
                f"mh{s}"
            )
            for s in range(_N_HASHES)
        ]
    )
    shs = sh.distinct()
    cand = dedup_near_minhash_pairs(spark, sf_dir)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(_N_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(_N_HASHES)],
    )
    n_agree = sum(
        (F.col(f"a{s}") == F.col(f"b{s}")).cast("int") for s in range(_N_HASHES)
    ).cast("long")
    agree = (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", n_agree.alias("n_agree"))
    )
    x = shs.select(F.col("doc_id").alias("doc_a"), "shingle")
    y = shs.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(x, "doc_a")
        .join(y, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_int"))
    )
    sizes = shs.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        agree.join(inter, ["doc_a", "doc_b"], "left")
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            (F.col("n_agree") / _N_HASHES).alias("est_jaccard"),
            (
                F.coalesce("n_int", F.lit(0))
                / (F.col("na") + F.col("nb") - F.coalesce("n_int", F.lit(0)))
            ).alias("exact_jaccard"),
        )
    )


# Curation-DAG gate constants (jobs/curation_pipeline.py mirrors these
# as its defaults — one source of truth for the audit query and the job)
CUR_MIN_TOKENS = 5
CUR_MAX_WORD_LEN = 40.0


@query(
    "curation_audit",
    oracle=_MINHASH_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + f"""
, pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
reach(doc_id, lab) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.doc_id
), comp AS (
  SELECT doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY doc_id
),
gated AS (
  SELECT doc_id, text FROM documents
  WHERE len(string_split(text, ' ')) >= {CUR_MIN_TOKENS}
    AND length(text) / GREATEST(len(string_split(text, ' ')), 1)
        <= {CUR_MAX_WORD_LEN}
),
keep_exact AS (
  SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)
),
exact AS (
  SELECT g.doc_id FROM gated g JOIN keep_exact k USING (doc_id)
),
surv AS (
  SELECT c.doc_id, c.cluster_id FROM comp c JOIN exact e USING (doc_id)
),
cl AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters
  FROM surv
)
SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_raw,
       CAST((SELECT COUNT(*) FROM gated) AS BIGINT) AS n_gated,
       CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
       cl.n_members AS n_near_members,
       cl.n_clusters AS n_near_clusters,
       CAST((SELECT COUNT(*) FROM exact) - (cl.n_members - cl.n_clusters)
            AS BIGINT) AS n_unique
FROM cl
""",
)
def curation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation DAG's stage counts as ONE hash-checked row — the
    audit that turns the cluster-erasure class of bug (r2's fix: the
    near-dup representative must be chosen among docs that SURVIVED
    the earlier gates, else whole clusters vanish) into an oracle
    equation: n_unique = n_exact − (near-dup members − clusters), with
    every term independently recomputed by DuckDB, including the LSH
    banding and the connected components (recursive-CTE twin). Uses
    exactly the job's stage logic (jobs/curation_pipeline.py): quality
    gate → md5 keep-lowest exact dedup → component representative
    among survivors. At 100 TB each count is a partial-aggregable
    byproduct of the stage that computes it — auditing is free."""
    d = load_parallel(spark, sf_dir, "documents")
    gated, exact = _curation_stage_frames(spark, sf_dir)
    labels = _minhash_cc_labels(spark, sf_dir)
    surv = labels.withColumnRenamed("node", "doc_id").join(
        exact, "doc_id", "leftsemi"
    )
    cl = surv.agg(
        F.count("*").alias("n_members"),
        F.count_distinct("label").alias("n_clusters"),
    )
    counts = (
        d.agg(F.count("*").alias("n_raw"))
        .join(gated.agg(F.count("*").alias("n_gated")))
        .join(exact.agg(F.count("*").alias("n_exact")))
    )
    return counts.join(F.broadcast(cl)).select(
        F.col("n_raw").cast("long").alias("n_raw"),
        F.col("n_gated").cast("long").alias("n_gated"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("n_members").cast("long").alias("n_near_members"),
        F.col("n_clusters").cast("long").alias("n_near_clusters"),
        (F.col("n_exact") - (F.col("n_members") - F.col("n_clusters")))
        .cast("long")
        .alias("n_unique"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: a new batch against the already-indexed corpus

_INC_MOD = 7  # batch = doc_id % _INC_MOD == _INC_REM (~14% "new arrivals")
_INC_REM = 3


@query(
    "dedup_incremental",
    oracle=_MINHASH_CTE
    + f"""
, hx AS (SELECT doc_id, md5(text) AS h FROM documents),
batch AS (SELECT doc_id FROM documents WHERE doc_id % {_INC_MOD} = {_INC_REM}),
corpus_h AS (SELECT DISTINCT h FROM hx WHERE doc_id % {_INC_MOD} != {_INC_REM}),
batch_first AS (
  SELECT h, MIN(doc_id) AS first_id FROM hx
  WHERE doc_id % {_INC_MOD} = {_INC_REM} GROUP BY h),
near_c AS (
  SELECT DISTINCT a.doc_id FROM bands a
  JOIN bands c ON a.band = c.band AND a.band_key = c.band_key
              AND c.doc_id % {_INC_MOD} != {_INC_REM}
  WHERE a.doc_id % {_INC_MOD} = {_INC_REM}),
near_b AS (
  SELECT DISTINCT a.doc_id FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND b.doc_id < a.doc_id
              AND b.doc_id % {_INC_MOD} = {_INC_REM}
  WHERE a.doc_id % {_INC_MOD} = {_INC_REM})
SELECT x.doc_id,
       CAST(CASE WHEN ch.h IS NOT NULL OR x.doc_id > bf.first_id
                 THEN 1 ELSE 0 END AS BIGINT) AS exact_dup,
       CAST(CASE WHEN nc.doc_id IS NOT NULL OR nb.doc_id IS NOT NULL
                 THEN 1 ELSE 0 END AS BIGINT) AS near_dup,
       CAST(CASE WHEN ch.h IS NULL AND x.doc_id = bf.first_id
                  AND nc.doc_id IS NULL AND nb.doc_id IS NULL
                 THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM hx x
JOIN batch USING (doc_id)
JOIN batch_first bf ON x.h = bf.h
LEFT JOIN corpus_h ch ON x.h = ch.h
LEFT JOIN near_c nc ON x.doc_id = nc.doc_id
LEFT JOIN near_b nb ON x.doc_id = nb.doc_id
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta) dedup — the pattern that makes dedup
    affordable at 100 TB: a NEW batch of arrivals (doc_id %
    _INC_MOD == _INC_REM, i.e. 7/3 here) is checked against the
    already-indexed corpus WITHOUT re-deduping the corpus. Per new
    doc: exact_dup (md5 matches a corpus doc, or a smaller-id batch
    doc — the batch self-dedupes in arrival order), near_dup (shares
    an LSH band bucket with the corpus or an earlier batch doc), kept
    (survives both). Fully oracle-checked including the band index.

    Scale shape: every join is batch-side-small — batch hashes and
    batch bands probe the corpus's stored hash/band index (computed
    here for the audit; persisted as sorted/bucketed tables in
    production, so the probes are shuffle-free index lookups). Cost
    per ingest round ∝ |delta|, never ∝ |corpus|² — re-running
    dedup_near_minhash over corpus+delta each round would be ∝
    |corpus| per round and quadratic cumulatively."""
    d = load_parallel(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % _INC_MOD == _INC_REM
    hx = d.select("doc_id", F.md5("text").alias("h"))
    batch_h = hx.filter(is_batch)
    corpus_h = hx.filter(~is_batch).select("h").distinct()
    first = (
        batch_h.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    )
    bands = _minhash_bands(spark, sf_dir)
    b_bands = bands.filter(is_batch)
    c_bands = bands.filter(~is_batch)
    near_c = (
        b_bands.join(c_bands, ["band", "band_key"], "leftsemi")
        .select("doc_id")
        .distinct()
        .withColumn("nc", F.lit(1))
    )
    a = b_bands.alias("a")
    b = b_bands.alias("b")
    near_b = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("b.doc_id") < F.col("a.doc_id")),
            "leftsemi",
        )
        .select("doc_id")
        .distinct()
        .withColumn("nb", F.lit(1))
    )
    ex_c = corpus_h.withColumn("ec", F.lit(1))
    out = (
        batch_h.join(first, "h")
        .join(ex_c, "h", "left")
        .join(near_c, "doc_id", "left")
        .join(near_b, "doc_id", "left")
    )
    exact = (F.col("ec").isNotNull()) | (F.col("doc_id") > F.col("first_id"))
    near = F.col("nc").isNotNull() | F.col("nb").isNotNull()
    return out.select(
        "doc_id",
        exact.cast("long").alias("exact_dup"),
        near.cast("long").alias("near_dup"),
        (~exact & ~near).cast("long").alias("kept"),
    )


@query(
    "curation_lineage",
    oracle=_MINHASH_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + f"""
, pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
reach(doc_id, lab) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.doc_id
), comp AS (
  SELECT doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY doc_id
),
gated AS (
  SELECT doc_id FROM documents
  WHERE len(string_split(text, ' ')) >= {CUR_MIN_TOKENS}
    AND length(text) / GREATEST(len(string_split(text, ' ')), 1)
        <= {CUR_MAX_WORD_LEN}
),
keep_exact AS (
  SELECT MIN(d.doc_id) AS doc_id FROM documents d
  JOIN gated g ON d.doc_id = g.doc_id GROUP BY md5(d.text)
),
surv AS (
  SELECT c.doc_id, c.cluster_id FROM comp c
  JOIN keep_exact e ON c.doc_id = e.doc_id),
rep AS (
  SELECT cluster_id, MIN(doc_id) AS rep_id FROM surv GROUP BY cluster_id),
nearf AS (
  SELECT s.doc_id FROM surv s
  JOIN rep r ON s.cluster_id = r.cluster_id AND s.doc_id != r.rep_id)
SELECT d.doc_id,
       CASE WHEN g.doc_id IS NULL THEN 'gate'
            WHEN e.doc_id IS NULL THEN 'exact'
            WHEN nf.doc_id IS NOT NULL THEN 'near'
            ELSE 'kept' END AS stage
FROM documents d
LEFT JOIN gated g ON d.doc_id = g.doc_id
LEFT JOIN keep_exact e ON d.doc_id = e.doc_id
LEFT JOIN nearf nf ON d.doc_id = nf.doc_id
""",
)
def curation_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation provenance — WHY each raw doc did or did
    not reach the training set: 'gate' (failed the quality gate),
    'exact' (lost the md5 keep-lowest dedup), 'near' (non-representative
    member of a near-dup cluster, representative chosen among
    survivors — the r2 cluster-erasure fix made row-visible), 'kept'.
    The debugging view every data-pipeline owner asks for first
    ("where did my document go?"); curation_audit is its GROUP BY.
    Fully oracle-checked per row, including the LSH banding and the
    connected components.

    Scale: the lineage is a byproduct of stages the DAG already runs —
    three leftsemi/leftanti probes against stage outputs keyed by
    doc_id. At 100 TB each stage persists its verdict column instead
    of re-deriving it; nothing here adds a shuffle the DAG lacks."""
    d = load_parallel(spark, sf_dir, "documents")
    gated, exact = _curation_stage_frames(spark, sf_dir)
    labels = _minhash_cc_labels(spark, sf_dir)
    surv = labels.withColumnRenamed("node", "doc_id").join(
        exact, "doc_id", "leftsemi"
    )
    rep = surv.groupBy("label").agg(F.min("doc_id").alias("rep_id"))
    nearf = (
        surv.join(rep, "label")
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select("doc_id")
        .withColumn("nf", F.lit(1))
    )
    g = gated.withColumn("g", F.lit(1))
    e = exact.withColumn("e", F.lit(1))
    return (
        d.select("doc_id")
        .join(g, "doc_id", "left")
        .join(e, "doc_id", "left")
        .join(nearf, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("g").isNull(), "gate")
            .when(F.col("e").isNull(), "exact")
            .when(F.col("nf").isNotNull(), "near")
            .otherwise("kept")
            .alias("stage"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring duplication (the train-data "memorized span" signal)

_SUB_K = 8  # span length in tokens — the exact-substring dedup window


_SQL_KGRAMS = """
CASE WHEN len({toks}) >= {k}
     THEN list_transform(generate_series(1, len({toks}) - {km1}),
                         i -> {parts})
     ELSE [] END
""".format(
    toks="t",
    k=_SUB_K,
    km1=_SUB_K - 1,
    parts=" || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(_SUB_K)),
)


@query(
    "dedup_exact_substring",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id, unnest({_SQL_KGRAMS}) AS gram FROM toks
  )
),
shared AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN s.gram IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_shared,
       SUM(CASE WHEN s.gram IS NULL THEN 0 ELSE 1 END) / COUNT(*)
         AS dup_fraction
FROM grams g LEFT JOIN shared s USING (gram)
GROUP BY g.doc_id
""",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication report — the passage-level signal
    behind substring dedup of training corpora (Lee et al. 2022,
    'Deduplicating Training Data Makes Language Models Better': exact
    repeated spans, not whole-doc hashes, are what LMs memorize). Per
    doc: distinct 8-token spans, how many also occur verbatim in at
    least one OTHER doc, and the duplicated fraction (exact integer
    ratio, never rounded).

    Scale shape: NO pairwise join anywhere — explode k-grams (one pass,
    map-side), per-gram doc count (partial-aggregable groupBy on the
    gram, uniform keys), then one probe join back. Cost ∝ corpus token
    count, never ∝ docs²; at 100 TB the gram→count table is the stored
    suffix index, and the production form hashes grams to 8-byte ids
    before the shuffle to cut the exchange width."""
    d = load_parallel(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", F.explode(kgrams("text", _SUB_K)).alias("gram")
    ).distinct()
    shared = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
        .withColumn("s", F.lit(1))
    )
    return (
        grams.join(shared, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("s").isNull(), 0).otherwise(1))
            .cast("long")
            .alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            (F.col("n_shared") / F.col("n_grams")).alias("dup_fraction"),
        )
    )
