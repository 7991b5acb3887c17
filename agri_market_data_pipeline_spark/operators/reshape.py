"""Reshape + sampling operators.

Neither exists in the reference (its one table is consumed as-is), but
both are table-stakes for the analytics surface its data model implies
(SURVEY.md §1.1: wide fact table with three measure columns) and for the
100 TB training-data pipeline scope (BASELINE.json north star):

- deterministic hash sampling is how you carve reproducible dev/eval
  subsets out of a 100 TB corpus — `df.sample()` is seed-dependent on
  partitioning and not reproducible across engines/cluster layouts, a
  content-hash bucket is;
- unpivot (melt) turns the Min/Max/Modal price triple of the agmarknet
  row (SURVEY.md §1.1 cols 8-10) into long form for per-measure
  aggregation — one pass, no self-union of three scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import DEC_WIDE, dsum, sql_dsum
from ..memo import pin
from ..registry import query
from ..tables import load, load_parallel


@query(
    "sample_hash",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS cnt,
       {sql_dsum("l_quantity")} AS sum_qty
FROM lineitem
WHERE CAST('0x' || substring(md5(l_orderkey || '|' || l_linenumber), 1, 8)
           AS BIGINT) % 100 < 10
GROUP BY l_returnflag
""",
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample via md5 content-hash bucketing.

    The predicate is a pure row-local function of the primary key, so it
    (a) reproduces exactly on any engine, any partitioning, any cluster
    size — unlike `df.sample(seed)`, whose output depends on partition
    layout; (b) is embarrassingly parallel with no shuffle: at 100 TB
    the sample is a single filtered scan, and the same expression used
    as a persisted `sample_bucket` column makes it a partition-pruned
    read. md5 is the one hash both engines share (registry.py rules).
    """
    li = load(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    bucket = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 100
    return (
        li.filter(bucket < 10)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"), dsum("l_quantity").alias("sum_qty"))
    )


@query(
    "agg_unpivot",
    oracle=f"""
SELECT measure,
       COUNT(*) AS cnt,
       {sql_dsum("val")} AS sum_val
FROM (
  UNPIVOT (SELECT l_extendedprice, l_discount, l_tax FROM lineitem)
  ON l_extendedprice, l_discount, l_tax
  INTO NAME measure VALUE val
)
GROUP BY measure
""",
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of the three measure columns, then per-measure
    stats — the long-form view of the agmarknet Min/Max/Modal triple.

    `unpivot` expands 1 row → 3 in the same map stage (no join, no
    union of three scans); the only shuffle is the final 3-key
    aggregation. At 100 TB the alternative — three scans UNION ALL'd —
    reads the table three times; this reads it once.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_extendedprice", "l_discount", "l_tax"],
            "measure",
            "val",
        )
        .groupBy("measure")
        .agg(F.count("*").alias("cnt"), dsum("val").alias("sum_val"))
    )


# per-stratum sampling rates (percent): downsample the dominant 'N'
# flag, keep the rarer flags at higher rates — class rebalancing
_STRATA_PCT = {"N": 5, "A": 20, "R": 50}


@query(
    "sample_stratified",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS cnt,
       {sql_dsum("l_quantity")} AS sum_qty
FROM lineitem
WHERE CAST('0x' || substring(md5(l_orderkey || '|' || l_linenumber), 1, 8)
           AS BIGINT) % 100
      < CASE l_returnflag WHEN 'N' THEN 5 WHEN 'A' THEN 20
                          WHEN 'R' THEN 50 ELSE 0 END
GROUP BY l_returnflag
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: each class keeps its own
    hash-bucket rate — the class-rebalancing step of a training-data
    pipeline (downsample the dominant class, keep the rare ones).

    Same zero-shuffle, reproducible-anywhere properties as
    `sample_hash`; the per-stratum rate is a row-local CASE over the
    class column, so no per-group pass, no join against a rates table
    (broadcast a rates dim instead when strata are dynamic). A seed
    column appended to the hash input yields independent resamples.
    """
    li = load(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    bucket = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 100
    rate = None
    for flag, pct in _STRATA_PCT.items():
        rate = (
            F.when(F.col("l_returnflag") == flag, pct)
            if rate is None
            else rate.when(F.col("l_returnflag") == flag, pct)
        )
    rate = rate.otherwise(0)
    return (
        li.filter(bucket < rate)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"), dsum("l_quantity").alias("sum_qty"))
    )


_WSAMPLE_K = 10


@query(
    "sample_weighted_k",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           AS h
  FROM documents
), keyed AS (
  SELECT doc_id,
         CAST(n_tokens AS BIGINT) AS n_tokens,
         ROUND(ln((h + 1) / 4294967296.0) / GREATEST(n_tokens, 1), 6) AS wkey
  FROM t
)
SELECT doc_id, n_tokens, wkey
FROM keyed
ORDER BY wkey DESC, doc_id
LIMIT {_WSAMPLE_K}
""",
)
def sample_weighted_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted k-sample without replacement (Efraimidis–Spirakis A-Res):
    each doc gets key u^(1/w) — here in the equivalent log form
    ln(u)/w — and the k largest keys ARE a weighted reservoir sample.
    Weight = token count: the quality/length-weighted corpus-sampling
    step of training-data curation (sample long docs preferentially
    without ever sorting the corpus by weight).

    u is md5-derived (u = (h+1)/2^32 ∈ (0,1]), so like sample_hash the
    sample reproduces on any engine/partitioning/cluster — no RNG state.
    The key is row-local; selection is TakeOrderedAndProject
    (per-partition heaps, no shuffle, no global sort) — at 100 TB this
    is one filtered-scan-shaped pass. Per-stratum variant: the same key
    under a row_number window (sample_reservoir_k's shape). ln() is the
    one order-sensitive float here: ROUND(…,6) + doc_id tiebreak pins
    rank boundaries across engines (registry.py rules)."""
    d = load(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    n = F.size(F.split(F.col("text"), " ")).cast("long")
    wkey = F.round(
        F.log((h + 1) / F.lit(4294967296.0)) / F.greatest(n, F.lit(1)), 6
    )
    return (
        d.select("doc_id", n.alias("n_tokens"), wkey.alias("wkey"))
        .orderBy(F.desc("wkey"), F.asc("doc_id"))
        .limit(_WSAMPLE_K)
    )


_RESERVOIR_K = 5


@query(
    "sample_reservoir_k",
    oracle=f"""
WITH t AS (
  SELECT c_nationkey, c_custkey, c_acctbal,
         CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                 ORDER BY md5(CAST(c_custkey AS VARCHAR)),
                                          c_custkey) AS BIGINT) AS rn
  FROM customer
)
SELECT c_nationkey, c_custkey, c_acctbal, rn
FROM t
WHERE rn <= {_RESERVOIR_K}
""",
)
def sample_reservoir_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size-k sample per stratum (k customers per nation) — the
    deterministic twin of per-group reservoir sampling: rank rows by
    md5(key) within each group and keep the k smallest. Because the
    hash order is a fixed pseudo-random permutation of the keys, the
    marginal distribution matches a uniform k-reservoir, but the result
    reproduces exactly on any engine, partitioning, or cluster size
    (`sample_hash`'s argument, extended from rate-based to size-based).

    Complements `sample_hash` (global rate) and `sample_stratified`
    (per-class rates): this is the "exactly k examples per class" shape
    of eval-set construction. Scale: row_number sorts within each group
    partition; for huge groups with tiny k, the bottom-k-by-hash is
    equivalently an aggregate of the k smallest hashes (a fixed-size
    min-heap partial aggregate — `collect_list`+`slice` after a coarse
    hash-range prefilter), avoiding the full per-group sort.
    """
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.md5(F.col("c_custkey").cast("string")), "c_custkey"
    )
    return (
        c.select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= _RESERVOIR_K)
    )


@query(
    "sample_balanced",
    oracle="""
WITH per AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
),
m AS (SELECT MIN(n) AS m FROM per),
ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5('bal:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
)
SELECT r.doc_id, r.lang
FROM ranked r CROSS JOIN m
WHERE r.rn <= m.m
""",
)
def sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps exactly
    min-class-count documents, selected in deterministic md5 order —
    the classifier-training counterpart of mix_domains (equalize, don't
    target weights). The target is DERIVED from the data (the minority
    class's size rides a 1-row cross join, no collect, no literal to
    go stale when the corpus shifts); selection stays a pure function
    of doc_id, so the balanced set is append-stable per class.

    Scale: one count aggregation + one per-class rank window — the
    same single lang-keyed shuffle mix_domains pays; at extreme class
    skew the rank is replaced by a hash-threshold cut at the
    m-th-smallest hash (computed from the count table), which drops
    the window entirely."""
    d = load_parallel(spark, sf_dir, "documents")
    m = d.groupBy("lang").agg(F.count("*").alias("n")).agg(
        F.min("n").alias("m")
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("bal:"), F.col("doc_id").cast("string"))),
        F.asc("doc_id"),
    )
    ranked = d.select(
        "doc_id", "lang", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.join(F.broadcast(m))
        .filter(F.col("rn") <= F.col("m"))
        .select("doc_id", "lang")
    )


_NEYMAN_BUDGET = 1000  # total sample size to allocate across strata

_NEYMAN_SQL = f"""
WITH s AS (
  SELECT l_returnflag AS grp,
         COUNT(*) AS n_pop,
         {sql_dsum("l_extendedprice")} AS sx,
         {sql_dsum("l_extendedprice * l_extendedprice", DEC_WIDE)} AS sxx
  FROM lineitem GROUP BY 1
),
w AS (
  SELECT grp, n_pop,
         CASE WHEN n_pop > 1 THEN
           ROUND(SQRT(GREATEST((sxx - sx * sx / n_pop) / (n_pop - 1), 0)), 6)
         ELSE 0.0 END AS sd,
         n_pop * CAST(FLOOR(
           CASE WHEN n_pop > 1 THEN
             ROUND(SQRT(GREATEST((sxx - sx * sx / n_pop) / (n_pop - 1), 0)), 6)
           ELSE 0.0 END
           * 1e6 + 0.5) AS BIGINT) AS wt
  FROM s
),
alloc AS (
  SELECT grp, n_pop, sd,
         CASE WHEN (SELECT SUM(wt) FROM w) > 0 THEN
           CAST(FLOOR({_NEYMAN_BUDGET} * (CAST(wt AS DOUBLE)
                      / CAST(CAST((SELECT SUM(wt) FROM w) AS BIGINT)
                             AS DOUBLE)) + 0.5) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS alloc_n
  FROM w
),
ranked AS (
  SELECT l.l_returnflag AS grp, l.l_extendedprice,
         ROW_NUMBER() OVER (
           PARTITION BY l.l_returnflag
           ORDER BY md5(CAST(l.l_orderkey AS VARCHAR) || '|'
                        || CAST(l.l_linenumber AS VARCHAR) || '|'
                        || CAST(l.l_partkey AS VARCHAR) || '|'
                        || CAST(l.l_suppkey AS VARCHAR)),
                    l.l_orderkey, l.l_linenumber, l.l_partkey,
                    l.l_suppkey) AS rn
  FROM lineitem l
)
SELECT a.grp, a.n_pop, a.sd, a.alloc_n,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       {sql_dsum("r.l_extendedprice")}
         / COUNT(*) AS sample_mean
FROM alloc a JOIN ranked r ON r.grp = a.grp AND r.rn <= a.alloc_n
GROUP BY 1, 2, 3, 4
"""


@query("sample_neyman", oracle=_NEYMAN_SQL)
def sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocated stratified sampling: the survey-sampling
    optimum that sizes each stratum's sample proportional to
    N_h * sigma_h — variance-hungry strata get more budget, uniform
    strata less — where sample_stratified applies CALLER-FIXED rates.
    One pass computes the exact per-stratum moments, the allocation is
    closed-form over K rows (FLOOR half-up on the shares — the
    ts_price_index lattice discipline), and selection is the md5-rank
    order (reproducible on any partitioning, sample_hash's property,
    here with an exact per-stratum COUNT rather than a rate). The
    audit row per stratum carries population size, sd, allocation,
    realized count, and the sample mean.

    Determinism: sd is ROUND(6) of exact moments; the allocation uses
    only those rounded values (FLOOR lattice ties resolve identically);
    rank selection carries the (orderkey, linenumber) unique tiebreak;
    the sample mean is an exact-sum/count double.

    Scale: moments are one partial-agg pass; ranking is the TWO-LEVEL
    distributed rank — (stratum, md5-prefix-bucket) local windows plus
    carried bucket offsets — so no task ever sorts a whole stratum (3
    stratum values would otherwise mean a 3-task sort at any scale),
    and the budget bound caps the post-window join input at
    buckets×budget rows per stratum."""
    # (orderkey, linenumber) is NOT unique in this testdata (118k dupe
    # pairs at sf0.1 — found when tied md5 ranks let the engines pick
    # different boundary rows); (orderkey, linenumber, partkey, suppkey)
    # is verified unique, so ranks are total.
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
    )
    x = F.col("l_extendedprice")
    s = li.groupBy("grp").agg(
        F.count("*").alias("n_pop"),
        dsum(x).alias("sx"),
        dsum(x * x, DEC_WIDE).alias("sxx"),
    )
    # single-row stratum: sample sd undefined (n-1 = 0 divides) →
    # define 0 (it contributes no Neyman weight) on both engines
    sd = F.when(
        F.col("n_pop") > 1,
        F.round(
            F.sqrt(
                F.greatest(
                    (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_pop"))
                    / (F.col("n_pop") - 1),
                    F.lit(0.0),
                )
            ),
            6,
        ),
    ).otherwise(F.lit(0.0))
    # Allocation denominator on an exact BIGINT lattice (ADVICE r7):
    # Σ(n_pop·sd) as a raw double SUM is order-dependent (Spark's
    # partial-agg order is nondeterministic, DuckDB sums in scan
    # order), and a 1-ulp drift in the total can flip the FLOOR
    # half-up share at a boundary. sd is ROUND(6), so FLOOR(sd·1e6+.5)
    # recovers its 6-dp integer losslessly; n_pop·sd_lat is exact
    # BIGINT, the sum is associative, and the BIGINT→DOUBLE casts in
    # the share are correctly rounded on both engines.
    w = s.select(
        "grp",
        "n_pop",
        sd.alias("sd"),
        (F.col("n_pop") * F.floor(sd * 1e6 + F.lit(0.5))).alias("wt"),
    )
    tot = w.agg(F.sum("wt").alias("t"))
    alloc = w.join(F.broadcast(tot)).select(
        "grp",
        "n_pop",
        "sd",
        # zero total weight (every stratum zero-variance): Neyman
        # allocation undefined → allocate nothing, identically guarded
        # in the oracle
        F.when(
            F.col("t") > 0,
            F.floor(
                F.lit(float(_NEYMAN_BUDGET))
                * (F.col("wt").cast("double") / F.col("t").cast("double"))
                + F.lit(0.5)
            ).cast("bigint"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("alloc_n"),
    )
    rk = F.md5(
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_partkey").cast("string"),
            F.col("l_suppkey").cast("string"),
        )
    )
    # Two-phase per-stratum top-k (r8, the VERDICT-flagged straggler
    # fix): the stratum key has only 3 values, so a per-stratum rank
    # window is a 3-task sort of the WHOLE stratum at any scale.
    # Instead, phase 1 ranks locally within (stratum, md5-prefix
    # bucket) — 3×256 partitions — and keeps only local rank ≤ budget;
    # phase 2 re-ranks the survivors per stratum. Survivors number at
    # most buckets×budget per stratum — CONSTANT in data size — so the
    # final sort task is bounded no matter the corpus. Correctness:
    # a row's global rank ≥ its local rank, so nothing with global
    # rank ≤ budget ≥ alloc_n is dropped in phase 1, and every row
    # ahead of a kept row is itself a survivor, so survivor rank =
    # global rank on the kept prefix — the sampled set and the oracle
    # hash are identical to the single-window form (TakeOrdered's
    # two-phase argument, per group).
    base = li.select(
        "grp",
        "l_extendedprice",
        rk.alias("rk"),
        F.conv(F.substring(rk, 1, 2), 16, 10).cast("int").alias("bkt"),
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
    )
    order_cols = [
        F.col("rk"),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_partkey"),
        F.col("l_suppkey"),
    ]
    w_loc = Window.partitionBy("grp", "bkt").orderBy(*order_cols)
    survivors = base.withColumn(
        "lrn", F.row_number().over(w_loc)
    ).filter(F.col("lrn") <= _NEYMAN_BUDGET)
    w_fin = Window.partitionBy("grp").orderBy(*order_cols)
    ranked = survivors.select(
        "grp",
        "l_extendedprice",
        F.row_number().over(w_fin).alias("rn"),
    )
    return (
        ranked.join(F.broadcast(alloc), "grp")
        .filter(F.col("rn") <= F.col("alloc_n"))
        .groupBy("grp", "n_pop", "sd", "alloc_n")
        .agg(
            F.count("*").alias("n_sampled"),
            (dsum("l_extendedprice") / F.count("*")).alias("sample_mean"),
        )
    )


# Greedy k-center coreset selection over the embedding table

_KC_K = 8  # centers to select
_KC_LAT = 1_000_000  # element quantization lattice


def _kc_d2_spark(a: str, b: str) -> str:
    """Exact-integer squared L2 distance between two float32 arrays:
    elements are FLOOR-quantized to the 1e6 lattice (float32→double
    cast is exact, FLOOR deterministic), so the sum is an
    order-independent BIGINT — argmax ties break identically on both
    engines. Parsed-SQL string, not Python-lambda HOFs (the ivfpq
    plan-build-latency rule)."""
    qx = f"CAST(FLOOR(CAST(x AS DOUBLE) * {_KC_LAT}) AS BIGINT)"
    qy = f"CAST(FLOOR(CAST(y AS DOUBLE) * {_KC_LAT}) AS BIGINT)"
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> ({qx} - {qy}) * ({qx} - {qy})), "
        f"CAST(0 AS BIGINT), (s, x) -> s + x)"
    )


def _kc_d2_sql(a: str, b: str) -> str:
    """DuckDB twin of _kc_d2_spark (1-based subscripts; COALESCE
    because DuckDB list_sum([]) is NULL where Spark aggregate is 0)."""
    qa = f"CAST(FLOOR(CAST({a}[i] AS DOUBLE) * {_KC_LAT}) AS BIGINT)"
    qb = f"CAST(FLOOR(CAST({b}[i] AS DOUBLE) * {_KC_LAT}) AS BIGINT)"
    return (
        f"COALESCE(CAST(list_sum(list_transform("
        f"generate_series(1, len({a})), "
        f"i -> ({qa} - {qb}) * ({qa} - {qb}))) AS BIGINT), 0)"
    )


def _kcenter_sql(k: int) -> str:
    """Unrolled greedy farthest-point loop: seed = MIN(vec_id), then
    k-1 rounds of (max of min-distance → min-id argmax → relax). Every
    m{i} is referenced by its own MAX scalar AND the next round —
    MATERIALIZED (the graph_kcore rule)."""
    d2 = _kc_d2_sql("e.embedding", "c.cv")
    ctes = [
        "emb AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings)",
        "c0 AS MATERIALIZED (SELECT MIN(vec_id) AS cid FROM emb)",
        """cv0 AS MATERIALIZED (
  SELECT e.vec_id AS cid, e.embedding AS cv
  FROM emb e, c0 WHERE e.vec_id = c0.cid)""",
        f"""m0 AS MATERIALIZED (
  SELECT e.vec_id, {d2} AS mind
  FROM emb e, cv0 c)""",
    ]
    for i in range(1, k):
        p = i - 1
        ctes.append(
            f"mx{p} AS MATERIALIZED "
            f"(SELECT MAX(mind) AS mx FROM m{p})"
        )
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT MIN(m.vec_id) AS cid FROM m{p} m, mx{p} x WHERE m.mind = x.mx)"""
        )
        ctes.append(
            f"""cv{i} AS MATERIALIZED (
  SELECT e.vec_id AS cid, e.embedding AS cv
  FROM emb e, c{i} WHERE e.vec_id = c{i}.cid)"""
        )
        ctes.append(
            f"""m{i} AS MATERIALIZED (
  SELECT m.vec_id, LEAST(m.mind, {_kc_d2_sql('e.embedding', 'c.cv')}) AS mind
  FROM m{p} m JOIN emb e ON e.vec_id = m.vec_id, cv{i} c)"""
        )
    ctes.append(
        f"mx{k - 1} AS MATERIALIZED (SELECT MAX(mind) AS mx FROM m{k - 1})"
    )
    sels = [
        f"""SELECT CAST({i} AS BIGINT) AS sel_order, cv{i}.cid AS vec_id,
  mx{i}.mx AS radius_lat,
  SQRT(CAST(mx{i}.mx AS DOUBLE)) / {_KC_LAT} AS radius
FROM cv{i}, mx{i}"""
        for i in range(k)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sels)


# Packed argmax multiplier: mind ≤ d·(2·LAT·max|x|)² ≈ 1e14 for unit-norm
# embeddings, vec_id < 1e12 by the id contract — packed = mind·1e12 +
# (1e12-1-vec_id) fits DECIMAL(38,0) with ~12 digits of headroom, and
# MAX(packed) is argmax-by-mind with ties broken to MIN(vec_id) in ONE
# hash aggregate (the CLAUDE.md pack-the-tiebreak rule, lifted to
# DECIMAL because mind·id overflows int64).
_KC_PACK = 1_000_000_000_000


@query("sample_kcenter_coreset", oracle=_kcenter_sql(_KC_K))
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset over the embedding
    table — the DIVERSITY-sampling member of the sample family:
    sample_stratified/balanced equalize LABEL counts, while k-center
    picks the {_KC_K} vectors that 2-approximate the minimax coverage
    radius (Gonzalez's classic guarantee) — the geometric coreset a
    training pipeline uses to seed diverse exemplars or dedup
    redundant embedding mass. Output: each center in selection order
    with the coverage radius AFTER its addition (row {_KC_K - 1}'s
    radius IS the k-center objective; the monotone non-increasing
    radius column is the planted test's pin).

    Determinism: distances are exact-integer squared L2 on the
    FLOOR-1e6 element lattice (float32→double exact, then BIGINT
    products summed — no float fold order anywhere; elements are
    quantized ONCE up front, which is bit-identical to re-quantizing
    per round). The seed is MIN(vec_id); every argmax tie breaks to
    MIN(vec_id) via the packed DECIMAL(38,0) MAX above — one hash
    aggregate per round instead of a max-then-filter double scan.
    Zero-norm / identical vectors just produce zero distances
    (degencheck class: no division exists; radius SQRT of a
    nonnegative integer). An empty embeddings table has no seed and
    yields 0 rows, as the oracle does.

    Scale (r13, VERDICT r12 item 8): the quantized embedding frame is
    materialized ONCE, and each round is ONE job — the round's packed
    argmax rides the relaxed state's materialization as an Observation
    metric (`df.observe(max(struct(packed, qe)))`), so the relax scan
    and the argmax reduction are the SAME pass. The observed 1-row
    result (next center id, its vector, the radius) is O(d) constant
    driver bytes per round — the documented observe() contract
    (obs_observe_metrics: accumulator merge, no data collect) — and
    the next round's relax embeds the winner vector as a PARSED-SQL
    literal array, so there are no per-round broadcasts, no
    crossJoins, and no 1-row checkpoint frames at all. r12's form
    (separate argmax + relax checkpoints, broadcast center frames) ran
    ~37 jobs / ~2.3 s at sf0.1; this form runs K+2 ≈ 10 jobs with the
    K sequential relax scans as the irreducible floor. O(K·n·d)
    arithmetic, the textbook greedy; at 100 TB swap in
    k-means||-style oversampling (one pass, ℓ·K candidates, then
    local greedy) — same operator contract. Every value (packed
    DECIMAL argmax — observed and agg'd maxes are the same exact
    integers, FLOOR-lattice d², LEAST relax) is the identical
    exact-integer op sequence as before, so the selected centers,
    radii and the oracle hash are unchanged."""
    from pyspark.sql import Observation

    qe = (
        f"transform(embedding, x -> "
        f"CAST(FLOOR(CAST(x AS DOUBLE) * {_KC_LAT}) AS BIGINT))"
    )

    def lit_arr(vals) -> str:
        """Parsed-SQL BIGINT array literal of a center's quantized
        vector (one parser call; exact integers)."""
        return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"

    def d2_lit(cvals) -> str:
        """Exact-integer squared L2 of qe against a literal center."""
        return (
            f"aggregate(zip_with(qe, {lit_arr(cvals)}, "
            f"(x, y) -> (x - y) * (x - y)), "
            f"CAST(0 AS BIGINT), (s, x) -> s + x)"
        )

    packed = F.expr(
        f"CAST(mind AS DECIMAL(38,0)) * {_KC_PACK}"
        f" + ({_KC_PACK} - 1 - vec_id)"
    )
    # seed = MIN(vec_id) with its vector (vec_id unique → struct order
    # == vec_id order), observed as a byproduct of the ONE heavy
    # materialization.
    obs0 = Observation()
    emb = pin(
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.expr(qe).alias("qe"))
        .observe(obs0, F.min(F.struct("vec_id", "qe")).alias("s"))
    )

    def emit(rows: list) -> DataFrame:
        """K driver-side (sel_order, id, radius_lat) scalars → one
        local relation; sqrt stays an in-engine expression (same IEEE
        op as the oracle's SQRT(CAST(mx AS DOUBLE))/LAT)."""
        return spark.createDataFrame(
            rows, "sel_order bigint, vec_id bigint, radius_lat bigint"
        ).select(
            "sel_order",
            "vec_id",
            "radius_lat",
            (F.sqrt(F.col("radius_lat").cast("double")) / _KC_LAT).alias(
                "radius"
            ),
        )

    seed = obs0.get["s"]
    if seed is None:
        # Empty embeddings table: there is no seed, so no center — the
        # oracle's MIN(vec_id) is NULL and its result has 0 rows too.
        return emit([])
    centers = [int(seed.vec_id)]  # center i's vec_id
    radii = []  # radius_lat AFTER adding center i
    m = emb.select("vec_id", "qe", F.expr(d2_lit(seed.qe)).alias("mind"))
    for i in range(1, _KC_K + 1):
        # ONE job: materialize the relaxed state and observe its packed
        # argmax (radius, next center id AND next center vector) in the
        # same pass. The final round only needs the observation, so it
        # drains through the noop sink instead of storing state.
        obs = Observation()
        m = m.observe(
            obs, F.max(F.struct(packed.alias("pk"), F.col("qe"))).alias("s")
        )
        if i == _KC_K:
            m.write.format("noop").mode("overwrite").save()
        else:
            m = pin(m)
        s = obs.get["s"]
        pk = int(s.pk)  # DECIMAL(38,0) → exact Python int
        radii.append(pk // _KC_PACK)
        if i == _KC_K:
            break
        centers.append(_KC_PACK - 1 - (pk % _KC_PACK))
        # Relax against the winner as a literal array — no broadcast,
        # no crossJoin; exactly one lazy layer sits on each checkpoint.
        m = m.select(
            "vec_id",
            "qe",
            F.least(F.col("mind"), F.expr(d2_lit(s.qe))).alias("mind"),
        )
    return emit([(j, centers[j], radii[j]) for j in range(_KC_K)])
