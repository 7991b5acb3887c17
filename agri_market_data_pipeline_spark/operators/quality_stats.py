"""Data-quality & robust-statistics operators.

The reference's entire cleaning pass is "coerce, drop, hope"
(fetch_data.py:149-156) and its headline metric is literally named
Modal_Price — yet it never computes a mode, a profile, or a weighted
center anywhere. This family makes those first-class, scale-designed
operators:

- ``dq_profile``: the one-pass column profiler every ingest run should
  publish (null/distinct/min/max per column) — the reference's
  equivalent is eyeballing `git diff` on the committed CSVs
  (run.yml:29-35).
- ``agg_mode``: exact mode with a deterministic tiebreak — the "modal"
  in Modal_Price computed from raw quotations rather than trusted from
  the upstream API.
- ``agg_weighted_median``: volume-weighted median price (the robust twin
  of agg_vwap's weighted mean), DECIMAL-exact so both engines cut the
  cumulative distribution at the identical row.
- ``dq_referential``: FK orphan audit across the star schema's edges
  (the Commodity_Code mapping nothing in the reference validates).
- ``dq_freshness``: per-group staleness vs the table tip — the harvest
  health metric a 3-hourly incremental loop lives or dies by.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import DEC, DEC_WIDE, dsum, sql_dsum
from ..registry import query
from ..tables import load

# (column, needs-cast-to-repr) — one profile row per entry.
_PROFILE_COLS = [
    "l_orderkey",
    "l_quantity",
    "l_extendedprice",
    "l_returnflag",
    "l_shipdate",
]


def _profile_union_sql() -> str:
    parts = [
        f"""
SELECT '{c}' AS col_name,
       COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_repr,
       CAST(MAX({c}) AS VARCHAR) AS max_repr
FROM lineitem"""
        for c in _PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(parts)


@query("dq_profile", oracle=_profile_union_sql())
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profile in ONE scan: per column, row/null/
    distinct counts and min/max (string repr so every column fits one
    schema). Spark plans the multi-distinct agg as a single pass with an
    Expand (k× row multiplication, k = #profiled columns) — still one
    scan of the table vs the oracle's k scans. At 100 TB swap
    count_distinct for approx_count_distinct (HLL, no Expand blowup,
    fixed memory) — same operator shape, sketchable partials."""
    li = load(spark, sf_dir, "lineitem")
    # Two single-row aggregates, cross-joined. Keeping the string-buffered
    # min/max OUT of the multi-distinct aggregate matters at scale: inside
    # one agg, Spark's distinct rewrite inherits the variable-width
    # buffers and demotes to SortAggregate — a sort of the k×N Expand
    # output. Split, the distinct branch is counts-only (HashAggregate
    # over the Expand) and the min/max branch is a keyless streaming fold
    # with no Expand at all.
    basic_aggs, distinct_aggs = [], []
    for c in _PROFILE_COLS:
        basic_aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
        distinct_aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
    one = li.agg(*basic_aggs).join(li.agg(*distinct_aggs))
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(col_name, n_rows, n_nulls, n_distinct, min_repr, max_repr)"
        )
    )


@query(
    "agg_mode",
    oracle="""
WITH counted AS (
    SELECT p.p_brand,
           CAST(l.l_quantity AS BIGINT) AS q,
           COUNT(*) AS cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand, CAST(l.l_quantity AS BIGINT)
)
SELECT p_brand,
       MAX_BY(q, cnt * 1024 + (1024 - q)) AS modal_qty,
       MAX(cnt) AS modal_n
FROM counted
GROUP BY p_brand
""",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode (most frequent order quantity per brand) with a
    deterministic smallest-value tiebreak — the reference's "Modal_Price"
    notion computed, not trusted. Two hash aggregations: count per
    (brand, value), then argmax per brand. The tiebreak is packed into
    ONE BIGINT ordering key (cnt·1024 + (1024 − q), q ≤ 50 ≪ 1024) so
    max_by keeps HashAggregate — a struct ordering key would demote it
    to SortAggregate (see CLAUDE.md). Both stages partial-aggregate
    map-side; the second stage's input is already tiny (|brands|×|values|
    rows), so the pattern survives any fact-table scale."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    counted = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.col("l_quantity").cast("bigint").alias("q"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    key = F.col("cnt") * 1024 + (1024 - F.col("q"))
    return counted.groupBy("p_brand").agg(
        F.max_by("q", key).alias("modal_qty"),
        F.max("cnt").alias("modal_n"),
    )


@query(
    "agg_weighted_median",
    oracle=f"""
WITH by_price AS (
    SELECT l_returnflag,
           l_extendedprice AS price,
           SUM(CAST(l_quantity AS {DEC})) AS wt
    FROM lineitem
    GROUP BY l_returnflag, l_extendedprice
), cum AS (
    SELECT l_returnflag, price,
           SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY price) AS cw,
           SUM(wt) OVER (PARTITION BY l_returnflag) AS tw
    FROM by_price
)
SELECT l_returnflag, MIN(price) AS wmedian
FROM cum
WHERE cw * 2 >= tw
GROUP BY l_returnflag
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest price
    whose cumulative weight reaches half the total. All weights
    accumulate in DECIMAL (exact, order-independent) and the window is
    ordered by the (grouped, hence unique) price, so both engines cut
    the cumulative distribution at the identical row — no float-sum
    drift, no tie ambiguity. The pre-aggregation to (flag, price) grain
    bounds the windowed data to |distinct prices| per group; at 100 TB
    the production variant is a weighted KLL/GK sketch (single pass,
    fixed memory) with this exact path as its audit."""
    li = load(spark, sf_dir, "lineitem")
    by_price = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("price")
    ).agg(F.sum(F.col("l_quantity").cast(DEC)).alias("wt"))
    w_cum = Window.partitionBy("l_returnflag").orderBy("price")
    w_all = Window.partitionBy("l_returnflag")
    return (
        by_price.withColumn("cw", F.sum("wt").over(w_cum))
        .withColumn("tw", F.sum("wt").over(w_all))
        .filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("price").alias("wmedian"))
    )


_WMS_BINS = 1024


@query(
    "agg_weighted_median_sketch",
    oracle=f"""
WITH rng AS (
  SELECT l_returnflag, MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
  FROM lineitem GROUP BY l_returnflag
),
binned AS (
  SELECT l.l_returnflag,
         CAST(LEAST(FLOOR((l.l_extendedprice - r.mn)
                          / (CASE WHEN r.mx = r.mn THEN 1.0
                                  ELSE (r.mx - r.mn) / {_WMS_BINS} END)),
                    {_WMS_BINS - 1}) AS BIGINT) AS k,
         CAST(l.l_quantity AS {DEC}) AS w
  FROM lineitem l JOIN rng r ON l.l_returnflag = r.l_returnflag
),
hist AS (
  SELECT l_returnflag, k, SUM(w) AS wt FROM binned GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, k,
         SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY k) AS cw,
         SUM(wt) OVER (PARTITION BY l_returnflag) AS tw
  FROM hist
),
cut AS (
  SELECT l_returnflag, MIN(k) AS k
  FROM cum WHERE cw * 2 >= tw GROUP BY l_returnflag
),
sk AS (
  SELECT c.l_returnflag,
         r.mn + CAST(c.k AS DOUBLE)
                * (CASE WHEN r.mx = r.mn THEN 1.0
                        ELSE (r.mx - r.mn) / {_WMS_BINS} END)
           AS wmedian_sketch,
         (CASE WHEN r.mx = r.mn THEN 0.0
               ELSE (r.mx - r.mn) / {_WMS_BINS} END) AS bin_width
  FROM cut c JOIN rng r USING (l_returnflag)
),
ex AS (
  SELECT l_returnflag, MIN(price) AS wmedian_exact
  FROM (
    SELECT l_returnflag, price,
           SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY price) AS cw,
           SUM(wt) OVER (PARTITION BY l_returnflag) AS tw
    FROM (SELECT l_returnflag, l_extendedprice AS price,
                 SUM(CAST(l_quantity AS {DEC})) AS wt
          FROM lineitem GROUP BY 1, 2)
  ) WHERE cw * 2 >= tw GROUP BY l_returnflag
)
SELECT s.l_returnflag, s.wmedian_sketch, s.bin_width, e.wmedian_exact
FROM sk s JOIN ex e USING (l_returnflag)
""",
)
def agg_weighted_median_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_weighted_median's promised 100 TB interior made real: the
    weighted median comes from a FIXED-WIDTH 1024-bin weighted
    histogram — a mergeable quantile sketch whose per-group state is
    ≤1024 (bin, DECIMAL weight) rows regardless of fact
    cardinality (bin sums commute with sharding exactly like
    incr_agg_merge's partials; a KLL/GK sketch trades the fixed grid
    for adaptive rank error, same one-pass/mergeable contract). The
    answer is the lower edge of the first bin where cumulative weight
    reaches half the total, so |sketch − exact| ≤ bin_width by
    construction — the exact windowed median rides alongside as the
    audit twin and tests pin that bound. Every arithmetic step (min/
    max, width division, FLOOR bucketing, edge reconstruction) is the
    identical IEEE expression on both engines, so no rounding is
    needed anywhere."""
    li = load(spark, sf_dir, "lineitem")
    rng = li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
    )
    width = F.when(F.col("mx") == F.col("mn"), F.lit(1.0)).otherwise(
        (F.col("mx") - F.col("mn")) / _WMS_BINS
    )
    binned = li.join(F.broadcast(rng), "l_returnflag").select(
        "l_returnflag",
        F.least(
            F.floor((F.col("l_extendedprice") - F.col("mn")) / width),
            F.lit(_WMS_BINS - 1),
        ).cast("bigint").alias("k"),
        F.col("l_quantity").cast(DEC).alias("w"),
    )
    hist = binned.groupBy("l_returnflag", "k").agg(F.sum("w").alias("wt"))
    w_cum = Window.partitionBy("l_returnflag").orderBy("k")
    w_all = Window.partitionBy("l_returnflag")
    cut = (
        hist.withColumn("cw", F.sum("wt").over(w_cum))
        .withColumn("tw", F.sum("wt").over(w_all))
        .filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("k").alias("k"))
    )
    bw = F.when(F.col("mx") == F.col("mn"), F.lit(0.0)).otherwise(
        (F.col("mx") - F.col("mn")) / _WMS_BINS
    )
    sk = cut.join(rng, "l_returnflag").select(
        "l_returnflag",
        (
            F.col("mn") + F.col("k").cast("double") * width
        ).alias("wmedian_sketch"),
        bw.alias("bin_width"),
    )
    exact = agg_weighted_median(spark, sf_dir).withColumnRenamed(
        "wmedian", "wmedian_exact"
    )
    return sk.join(exact, "l_returnflag")


@query(
    "dq_referential",
    oracle="""
SELECT 'lineitem->orders' AS fk_edge,
       COUNT(*) AS n_child,
       COUNT(*) - COUNT(o.o_orderkey) AS n_orphans
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders->customer',
       COUNT(*),
       COUNT(*) - COUNT(c.c_custkey)
FROM orders o2 LEFT JOIN customer c ON o2.o_custkey = c.c_custkey
UNION ALL
SELECT 'customer->nation',
       COUNT(*),
       COUNT(*) - COUNT(n.n_nationkey)
FROM customer c2 LEFT JOIN nation n ON c2.c_nationkey = n.n_nationkey
""",
)
def dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's FK edges:
    children whose parent key resolves nowhere (the reference's
    Commodity_Code → commodity mapping, which nothing ever validates).
    Each edge is a left join + counted nulls; the dimension edges
    broadcast and the fact edge is the one real shuffle. At 100 TB this
    is the post-ingest gate that catches a truncated dimension load
    before queries silently drop rows through inner joins."""

    def edge(child: DataFrame, parent: DataFrame, ck: str, pk: str, name: str):
        j = child.join(parent, child[ck] == parent[pk], "left")
        return j.agg(
            F.lit(name).alias("fk_edge"),
            F.count(F.lit(1)).alias("n_child"),
            (F.count(F.lit(1)) - F.count(parent[pk])).alias("n_orphans"),
        )

    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation").select("n_nationkey")
    e1 = edge(li, o.select("o_orderkey"), "l_orderkey", "o_orderkey",
              "lineitem->orders")
    e2 = edge(o.select("o_custkey"), c.select("c_custkey"), "o_custkey",
              "c_custkey", "orders->customer")
    e3 = edge(c.select("c_nationkey"), n, "c_nationkey", "n_nationkey",
              "customer->nation")
    return e1.unionByName(e2).unionByName(e3)


@query(
    "dq_freshness",
    oracle="""
WITH g AS (
  SELECT o_orderpriority AS prio,
         MAX(o_orderdate) AS latest,
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_orderpriority
), t AS (SELECT MAX(o_orderdate) AS tip FROM orders)
SELECT g.prio, g.latest, g.n_orders,
       CAST(date_diff('day', CAST(g.latest AS DATE), CAST(t.tip AS DATE))
            AS BIGINT) AS stale_days
FROM g CROSS JOIN t
""",
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group staleness: how far each partition's newest record lags
    the table tip — THE operational metric for the reference's 3-hourly
    harvest (a commodity whose latest quotation is weeks old means the
    upstream API silently stopped serving it; nothing in the reference
    would notice). One partial-aggregable MAX per group plus a one-row
    cross join for the tip — no window, no second fact scan."""
    o = load(spark, sf_dir, "orders")
    g = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.max("o_orderdate").alias("latest"), F.count("*").alias("n_orders")
    )
    t = o.agg(F.max("o_orderdate").alias("tip"))
    return g.join(F.broadcast(t)).select(
        "prio",
        "latest",
        "n_orders",
        F.datediff(F.col("tip").cast("date"), F.col("latest").cast("date"))
        .cast("long")
        .alias("stale_days"),
    )


@query(
    "agg_moments_higher",
    oracle=f"""
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         {sql_dsum("l_extendedprice", DEC_WIDE)} AS s1,
         {sql_dsum("l_extendedprice * l_extendedprice", DEC_WIDE)} AS s2,
         {sql_dsum("l_extendedprice * l_extendedprice * l_extendedprice",
                   DEC_WIDE)} AS s3,
         {sql_dsum("l_extendedprice * l_extendedprice * l_extendedprice"
                   " * l_extendedprice", DEC_WIDE)} AS s4
  FROM lineitem GROUP BY l_returnflag
), m AS (
  SELECT l_returnflag, n,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3.0 * (s1 / n) * (s2 / n)
              + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         s4 / n - 4.0 * (s1 / n) * (s3 / n)
              + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM s
)
SELECT l_returnflag, n,
       CASE WHEN m2 <= 0 THEN NULL
            ELSE ROUND(m3 / POW(m2, 1.5), 4) END AS skewness,
       CASE WHEN m2 <= 0 THEN NULL
            ELSE ROUND(m4 / (m2 * m2) - 3.0, 4) END AS excess_kurtosis
FROM m
""",
)
def agg_moments_higher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis per group, from exact raw power sums
    — the tail-shape diagnostics that justify ts_anomaly_mad over
    anomaly_zscore (heavy tails = high kurtosis = inflated stddev).
    Spark's built-in skewness/kurtosis and DuckDB's use different bias
    corrections, so both sides compute the population (g-) moments from
    the SAME formula over DECIMAL-accumulated Σx..Σx⁴: one partial-agg
    pass, four extra multiply columns, identical expression trees.
    ROUND(4) absorbs the pow/cancellation ulps; m2 ≤ 0 (constant group)
    yields NULL on both engines instead of a divide-by-zero. Headroom:
    x⁴ ≈ 1e20 per row sums to < 1e27 per group — DEC_WIDE holds to
    1e32, i.e. ~5 more orders of magnitude of rows."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum(x, DEC_WIDE).alias("s1"),
        dsum(x * x, DEC_WIDE).alias("s2"),
        dsum(x * x * x, DEC_WIDE).alias("s3"),
        dsum(x * x * x * x, DEC_WIDE).alias("s4"),
    )
    n = F.col("n")
    mean = F.col("s1") / n
    m2 = F.col("s2") / n - mean * mean
    m3 = F.col("s3") / n - 3.0 * mean * (F.col("s2") / n) + 2.0 * mean * mean * mean
    m4 = (
        F.col("s4") / n
        - 4.0 * mean * (F.col("s3") / n)
        + 6.0 * mean * mean * (F.col("s2") / n)
        - 3.0 * mean * mean * mean * mean
    )
    return s.select(
        "l_returnflag",
        "n",
        F.when(m2 <= 0, F.lit(None)).otherwise(
            F.round(m3 / F.pow(m2, 1.5), 4)
        ).alias("skewness"),
        F.when(m2 <= 0, F.lit(None)).otherwise(
            F.round(m4 / (m2 * m2) - 3.0, 4)
        ).alias("excess_kurtosis"),
    )


_SKEW_TOPN = 5


@query(
    "dq_key_skew",
    oracle=f"""
WITH per_key AS (
  SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey
), stats AS (
  SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows FROM per_key
)
SELECT p.l_suppkey, p.n,
       p.n * s.n_keys / s.n_rows AS skew_factor
FROM per_key p CROSS JOIN stats s
ORDER BY p.n DESC, p.l_suppkey
LIMIT {_SKEW_TOPN}
""",
)
def dq_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit: the 5 heaviest l_suppkey values
    with their hot-key factor (key rows ÷ mean rows per key) — the
    diagnostic you run BEFORE a big join to decide between plain
    shuffle, AQE skew handling, and manual salting (join_skew_salted is
    the treatment; this is the diagnosis). The per-key histogram is one
    partial-aggregable count; the corpus-wide mean rides a one-row
    broadcast cross join, so the audit costs a single shuffle at any
    scale. skew_factor is an exact integer ratio in double — bitwise
    identical across engines, never rounded (registry.py rules)."""
    li = load(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_suppkey").agg(F.count("*").alias("n"))
    stats = per_key.agg(
        F.count("*").alias("n_keys"), F.sum("n").alias("n_rows")
    )
    return (
        per_key.join(F.broadcast(stats))
        .select(
            "l_suppkey",
            "n",
            (F.col("n") * F.col("n_keys") / F.col("n_rows")).alias(
                "skew_factor"
            ),
        )
        .orderBy(F.desc("n"), F.asc("l_suppkey"))
        .limit(_SKEW_TOPN)
    )


# Expected column-level drift between the two simulated snapshot
# generations (v1 drops o_totalprice; v2 widens o_custkey to DOUBLE and
# adds o_channel). The oracle states the expected audit verbatim.
_DRIFT_ORACLE = """
SELECT * FROM (VALUES
  ('o_channel',    0, 1, CAST(NULL AS VARCHAR), 'string', 'added'),
  ('o_custkey',    1, 1, 'bigint', 'double', 'type_changed'),
  ('o_orderkey',   1, 1, 'bigint', 'bigint', 'same'),
  ('o_orderpriority', 1, 1, 'string', 'string', 'same'),
  ('o_totalprice', 1, 0, 'double', CAST(NULL AS VARCHAR), 'removed')
) AS t(col_name, in_v1, in_v2, dtype_v1, dtype_v2, status)
"""


@query("dq_schema_drift", oracle=_DRIFT_ORACLE)
def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift audit between two snapshot generations of the same
    feed: which columns were added, removed, or type-changed — the
    check every long-lived ingest (the reference appends for years,
    SURVEY.md §1.2) runs before a mergeSchema read silently NULLs or a
    type conflict kills the job. Drift is a METADATA property: the
    schemas come from the parquet FOOTERS of the two written
    generations (no data scanned), and the diff itself is a tiny
    full-outer join of the two column lists, executed as a local
    relation. scan_schema_evolution proves the benign-drift read path;
    this operator is the audit that tells you which path you're on.
    The oracle states the expected audit rows verbatim — the query
    must *derive* them from the physical footers."""
    import tempfile

    o = load(spark, sf_dir, "orders")
    with tempfile.TemporaryDirectory(prefix="drift_") as d:
        v1, v2 = os.path.join(d, "v1"), os.path.join(d, "v2")
        o.limit(100).select(
            "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
        ).write.mode("overwrite").parquet(v1)
        o.limit(100).select(
            "o_orderkey",
            F.col("o_custkey").cast("double").alias("o_custkey"),
            "o_orderpriority",
            F.lit("web").alias("o_channel"),
        ).write.mode("overwrite").parquet(v2)
        s1 = {f.name: f.dataType.simpleString() for f in spark.read.parquet(v1).schema}
        s2 = {f.name: f.dataType.simpleString() for f in spark.read.parquet(v2).schema}
    rows = []
    for col in sorted(set(s1) | set(s2)):
        t1, t2 = s1.get(col), s2.get(col)
        status = (
            "added" if t1 is None
            else "removed" if t2 is None
            else "same" if t1 == t2
            else "type_changed"
        )
        rows.append((col, int(t1 is not None), int(t2 is not None), t1, t2, status))
    return spark.createDataFrame(
        rows,
        "col_name string, in_v1 int, in_v2 int, "
        "dtype_v1 string, dtype_v2 string, status string",
    )


# Benford expected first-digit frequencies log10(1 + 1/d), as exact
# double literals shared verbatim by both engines.
_BENFORD = {
    1: 0.3010299956639812, 2: 0.17609125905568124, 3: 0.12493873660829992,
    4: 0.09691001300805642, 5: 0.07918124604762482, 6: 0.06694678963061322,
    7: 0.05799194697768673, 8: 0.05115252244738129, 9: 0.04575749056067514,
}

_BENFORD_VALUES = ", ".join(f"({d}, {v!r})" for d, v in _BENFORD.items())


@query(
    "dq_benford",
    oracle=f"""
WITH digits AS (
  SELECT CAST(substring(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                        1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
obs AS (
  SELECT digit, COUNT(*) AS n_obs FROM digits GROUP BY digit
),
total AS (SELECT COUNT(*) AS n FROM digits),
exp(digit, exp_raw) AS (VALUES {_BENFORD_VALUES})
SELECT e.digit,
       CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
       COALESCE(o.n_obs, 0) / t.n AS obs_freq,
       CAST(e.exp_raw AS DOUBLE) AS exp_freq,
       ROUND(abs(COALESCE(o.n_obs, 0) / t.n - CAST(e.exp_raw AS DOUBLE)), 6)
         AS abs_dev
FROM exp e
LEFT JOIN obs o ON o.digit = e.digit
CROSS JOIN total t
""",
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit: fabricated or truncation-damaged
    numeric feeds drift from the log10(1+1/d) first-digit law, and the
    per-digit deviation table is the classic forensic screen (here the
    synthetic uniform-ish prices deviate visibly — the audit's point is
    the measurement, not conformance). The first digit comes from the
    INTEGER-STRING head, not floor(x/10^floor(log10 x)) — float log10
    at power-of-ten boundaries is off-by-ulp across libms and flips
    digits (agg_hll_relational's bit-length argument, decimal edition).
    Observed frequency is an exact count ratio (bitwise identical
    unrounded); expected frequencies are shared double literals.

    One groupBy on a 9-value key: partial aggregation collapses
    everything map-side; at any scale this is one scan + a 9-row
    exchange."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count("*").alias("n_obs"))
    total = digits.agg(F.count("*").alias("n"))
    exp = F.broadcast(
        load(spark, sf_dir, "orders").sparkSession.createDataFrame(
            sorted(_BENFORD.items()), "digit int, exp_freq double"
        )
    )
    return (
        exp.join(obs, "digit", "left")
        .join(F.broadcast(total))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
            (F.coalesce("n_obs", F.lit(0)) / F.col("n")).alias("obs_freq"),
            "exp_freq",
            F.round(
                F.abs(F.coalesce("n_obs", F.lit(0)) / F.col("n") - F.col("exp_freq")),
                6,
            ).alias("abs_dev"),
        )
    )


_PSI_BUCKETS = 10


@query(
    "dq_distribution_drift",
    oracle=f"""
WITH base AS (
  SELECT o_totalprice AS v FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) < 1998
),
cur AS (
  SELECT o_totalprice AS v FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) >= 1998
),
cuts AS (
  {" UNION ALL ".join(f"SELECT {x} AS x, ROUND(quantile_cont(v, {x / 10.0}), 4) AS cut FROM base" for x in range(1, _PSI_BUCKETS))}
),
bb AS (
  SELECT CAST((SELECT COUNT(*) FROM cuts c WHERE b.v > c.cut) AS INT) AS bkt
  FROM base b
),
cb AS (
  SELECT CAST((SELECT COUNT(*) FROM cuts c WHERE cu.v > c.cut) AS INT) AS bkt
  FROM cur cu
),
bp AS (SELECT bkt, COUNT(*) AS nb FROM bb GROUP BY bkt),
cp AS (SELECT bkt, COUNT(*) AS nc FROM cb GROUP BY bkt),
tot AS (SELECT GREATEST((SELECT COUNT(*) FROM base), 1) AS tb,
            GREATEST((SELECT COUNT(*) FROM cur), 1) AS tc),
g AS (SELECT UNNEST(generate_series(0, {_PSI_BUCKETS - 1})) AS bkt)
SELECT g.bkt,
       CAST(COALESCE(bp.nb, 0) AS BIGINT) AS n_base,
       CAST(COALESCE(cp.nc, 0) AS BIGINT) AS n_cur,
       COALESCE(bp.nb, 0) / t.tb AS p_base,
       COALESCE(cp.nc, 0) / t.tc AS p_cur,
       ROUND((COALESCE(cp.nc, 0) / t.tc - COALESCE(bp.nb, 0) / t.tb)
             * ln(GREATEST(COALESCE(cp.nc, 0) / t.tc, 1e-6)
                  / GREATEST(COALESCE(bp.nb, 0) / t.tb, 1e-6)), 6)
         AS psi_term
FROM g LEFT JOIN bp ON bp.bkt = g.bkt
       LEFT JOIN cp ON cp.bkt = g.bkt
       CROSS JOIN tot t
""",
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between a baseline window (pre-1998
    orders) and the current window — THE production drift alarm for any
    feature a model consumes: bucket the current data by the BASELINE's
    deciles and sum (p_cur − p_base)·ln(p_cur/p_base) per bucket
    (emitted long-form; PSI ≥ 0.2 is the conventional retrain trigger).
    Decile cuts are exact interpolated percentiles rounded to the
    shared 1e-4 lattice (agg_percentiles' rule); bucket assignment is
    an integer count of cuts below the value — a 9-row broadcast
    product, not a sort; proportions are exact count ratios; only the
    ln-weighted term is rounded. Zero-count buckets clamp at 1e-6 on
    both sides (standard PSI practice, keeps ln finite).

    At 100 TB: cuts come from the baseline once (or its sketch), the
    two scans are filter-pushed, and the whole audit shuffles 2×10
    count rows."""
    o = load(spark, sf_dir, "orders")
    base = o.filter(F.year("o_orderdate") < 1998).select(
        F.col("o_totalprice").alias("v")
    )
    cur = o.filter(F.year("o_orderdate") >= 1998).select(
        F.col("o_totalprice").alias("v")
    )
    cuts = base.agg(
        *[
            F.round(F.percentile("v", x / 10.0), 4).alias(f"c{x}")
            for x in range(1, _PSI_BUCKETS)
        ]
    )

    def bucketed(df):
        j = df.join(F.broadcast(cuts))
        # WHEN/OTHERWISE, not a bare boolean cast: an EMPTY baseline
        # window yields NULL cuts, and (v > NULL)::int is NULL — the
        # current rows then vanish into a NULL bucket while the
        # oracle's CASE counts them in bucket 0 (degencheck: all
        # degenerate orders sit past the cutoff). NULL-safe form puts
        # everything in bucket 0 and the PSI alarm fires, as it should
        # when the baseline is missing.
        bkt = sum(
            F.when(F.col("v") > F.col(f"c{x}"), 1).otherwise(0)
            for x in range(1, _PSI_BUCKETS)
        )
        return j.select(bkt.alias("bkt")).groupBy("bkt").agg(
            F.count("*").alias("n")
        )

    bp = bucketed(base).withColumnRenamed("n", "nb")
    cp = bucketed(cur).withColumnRenamed("n", "nc")
    # GREATEST(·, 1): a regenerated testdata vintage could put every
    # order on one side of the cutoff, and ANSI division by zero is a
    # hard error — an empty window then reports zero proportions.
    tot = base.agg(F.greatest(F.count("*"), F.lit(1)).alias("tb")).join(
        cur.agg(F.greatest(F.count("*"), F.lit(1)).alias("tc"))
    )
    g = o.sparkSession.range(_PSI_BUCKETS).select(F.col("id").alias("bkt"))
    p_base = F.coalesce("nb", F.lit(0)) / F.col("tb")
    p_cur = F.coalesce("nc", F.lit(0)) / F.col("tc")
    return (
        g.join(F.broadcast(bp), "bkt", "left")
        .join(F.broadcast(cp), "bkt", "left")
        .join(F.broadcast(tot))
        .select(
            "bkt",
            F.coalesce("nb", F.lit(0)).cast("long").alias("n_base"),
            F.coalesce("nc", F.lit(0)).cast("long").alias("n_cur"),
            p_base.alias("p_base"),
            p_cur.alias("p_cur"),
            F.round(
                (p_cur - p_base)
                * F.log(
                    F.greatest(p_cur, F.lit(1e-6))
                    / F.greatest(p_base, F.lit(1e-6))
                ),
                6,
            ).alias("psi_term"),
        )
    )


@query(
    "dq_anomaly_iqr",
    oracle="""
WITH q AS (
  SELECT l_returnflag,
         ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
         ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS q3
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       q.q1, q.q3,
       ROUND(q.q3 - q.q1, 4) AS iqr,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN l.l_extendedprice
                          < q.q1 - 1.5 * ROUND(q.q3 - q.q1, 4)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(SUM(CASE WHEN l.l_extendedprice
                          > q.q3 + 1.5 * ROUND(q.q3 - q.q1, 4)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM lineitem l JOIN q ON q.l_returnflag = l.l_returnflag
GROUP BY l.l_returnflag, q.q1, q.q3
""",
)
def dq_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (boxplot) outlier audit per group: counts beyond
    Q1 − 1.5·IQR and Q3 + 1.5·IQR — the third member of the outlier
    family (zscore = parametric, MAD = robust center, IQR = the
    distribution-free boxplot standard every DQ dashboard draws).
    Fence arithmetic runs on the SAME ROUND(4)ed quartiles on both
    engines so the fence is a shared constant and the count comparisons
    are exact; the quartiles themselves follow agg_percentiles'
    interpolation-parity rule.

    Two passes (quartiles, then fence counts) joined on the group key —
    at 100 TB the quartile pass switches to approx_percentile and the
    fence pass is unchanged; both partial-aggregate map-side."""
    li = load(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.25), 4).alias("q1"),
        F.round(F.percentile("l_extendedprice", 0.75), 4).alias("q3"),
    )
    iqr = F.round(F.col("q3") - F.col("q1"), 4)
    return (
        li.join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag", "q1", "q3")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                (F.col("l_extendedprice") < F.col("q1") - 1.5 * iqr).cast("int")
            )
            .cast("long")
            .alias("n_low"),
            F.sum(
                (F.col("l_extendedprice") > F.col("q3") + 1.5 * iqr).cast("int")
            )
            .cast("long")
            .alias("n_high"),
        )
        .select(
            "l_returnflag", "q1", "q3", iqr.alias("iqr"),
            "n_rows", "n_low", "n_high",
        )
    )


# ---------------------------------------------------------------------------
# Declarative rule suite (Deequ-style constraint verification)


@query(
    "dq_rules",
    oracle="""
WITH ck AS (SELECT DISTINCT c_custkey FROM customer),
base AS (
  SELECT o.*, ck.c_custkey AS ref_ok
  FROM orders o LEFT JOIN ck ON o.o_custkey = ck.c_custkey),
metrics AS (
  SELECT COUNT(*) AS n,
         COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_keys,
         SUM(CASE WHEN o_totalprice <= 0 OR o_totalprice >= 1000000
                  THEN 1 ELSE 0 END) AS price_oob,
         SUM(CASE WHEN o_orderdate IS NULL
                    OR o_orderdate < DATE '1992-01-01'
                    OR o_orderdate > DATE '1998-12-31'
                  THEN 1 ELSE 0 END) AS date_oob,
         SUM(CASE WHEN ref_ok IS NULL THEN 1 ELSE 0 END) AS orphan_cust,
         SUM(CASE WHEN o_orderpriority IS NULL OR o_orderpriority = ''
                  THEN 1 ELSE 0 END) AS prio_missing
  FROM base)
SELECT rule, n_violations,
       CAST(CASE WHEN n_violations <= allowed THEN 1 ELSE 0 END AS BIGINT)
         AS passed
FROM (
  SELECT 'orderkey_unique' AS rule, CAST(dup_keys AS BIGINT)
           AS n_violations, CAST(0 AS BIGINT) AS allowed FROM metrics
  UNION ALL
  SELECT 'price_in_range', CAST(price_oob AS BIGINT), 0 FROM metrics
  UNION ALL
  SELECT 'orderdate_in_window', CAST(date_oob AS BIGINT), 0 FROM metrics
  UNION ALL
  SELECT 'custkey_referential', CAST(orphan_cust AS BIGINT), 0 FROM metrics
  UNION ALL
  SELECT 'priority_complete_99pct', CAST(prio_missing AS BIGINT),
         CAST(n // 100 AS BIGINT) FROM metrics) t
""",
)
def dq_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality RULE SUITE (the Deequ/Great-
    Expectations pattern): five constraints — key uniqueness, value
    range, date window, referential integrity, 99% completeness —
    verified in ONE scan plus one broadcast semi-probe, emitted as
    assertion rows (rule, n_violations, passed). dq_profile answers
    "what does the data look like"; this answers "is the contract
    met", with thresholds in the output so a scheduler can gate a
    pipeline on `passed`.

    Scale: every rule is a conditional partial aggregate over the
    same scan (COUNT DISTINCT rides the same exchange); the dimension
    key set broadcasts. Adding a rule adds a counter, never a pass —
    the whole contract costs what one aggregate costs."""
    o = load(spark, sf_dir, "orders")
    ck = load(spark, sf_dir, "customer").select("c_custkey").distinct()
    base = o.join(
        F.broadcast(ck.withColumnRenamed("c_custkey", "ref_ok")),
        o.o_custkey == F.col("ref_ok"),
        "left",
    )
    m = base.agg(
        F.count("*").alias("n"),
        (F.count("*") - F.count_distinct("o_orderkey")).alias("dup_keys"),
        F.sum(
            (
                (F.col("o_totalprice") <= 0)
                | (F.col("o_totalprice") >= 1000000)
            ).cast("long")
        ).alias("price_oob"),
        F.sum(
            (
                F.col("o_orderdate").isNull()
                | (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
                | (F.col("o_orderdate") > F.lit("1998-12-31").cast("date"))
            ).cast("long")
        ).alias("date_oob"),
        F.sum(F.col("ref_ok").isNull().cast("long")).alias("orphan_cust"),
        F.sum(
            (
                F.col("o_orderpriority").isNull()
                | (F.col("o_orderpriority") == "")
            ).cast("long")
        ).alias("prio_missing"),
    )
    rules = m.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("orderkey_unique").alias("rule"),
                    F.col("dup_keys").cast("long").alias("n_violations"),
                    F.lit(0).cast("long").alias("allowed"),
                ),
                F.struct(
                    F.lit("price_in_range").alias("rule"),
                    F.col("price_oob").cast("long").alias("n_violations"),
                    F.lit(0).cast("long").alias("allowed"),
                ),
                F.struct(
                    F.lit("orderdate_in_window").alias("rule"),
                    F.col("date_oob").cast("long").alias("n_violations"),
                    F.lit(0).cast("long").alias("allowed"),
                ),
                F.struct(
                    F.lit("custkey_referential").alias("rule"),
                    F.col("orphan_cust").cast("long").alias("n_violations"),
                    F.lit(0).cast("long").alias("allowed"),
                ),
                F.struct(
                    F.lit("priority_complete_99pct").alias("rule"),
                    F.col("prio_missing").cast("long").alias("n_violations"),
                    F.expr("n div 100").cast("long").alias("allowed"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    return rules.select(
        "rule",
        "n_violations",
        (F.col("n_violations") <= F.col("allowed")).cast("long").alias("passed"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy gate for data releases / training corpora)

_KANON_K = 8


@query(
    "dq_k_anonymity",
    oracle=f"""
SELECT CAST(c_nationkey AS BIGINT) AS nation,
       c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS class_size,
       CAST(CASE WHEN COUNT(*) < {_KANON_K} THEN 1 ELSE 0 END AS BIGINT)
         AS violates_k
FROM customer
GROUP BY 1, 2
ORDER BY class_size, nation, segment
""",
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier set (nation ×
    market segment): every equivalence class's size, flagged when it
    falls below k=8. A record in a class of size < k is
    re-identifiable by joining the quasi-identifiers against any public
    roster — the standard privacy gate a dataset must pass before
    release, and (for this engine's LLM-pipeline role) before user-
    derived text enters a training corpus. Complements dq_rules
    (contract assertions) and text_pii_scrub (direct identifiers):
    this one catches the INDIRECT identification risk that survives
    PII scrubbing.

    Emits every class (not just violators) so the result is a stable
    release-review artifact at any scale; the downstream suppression /
    generalization step filters `violates_k = 1`.

    Scale: ONE partial-aggregated hash groupBy over the quasi-
    identifier columns — cost is the scan; the class count is bounded
    by the QI domain product (125 here), so the shuffle is trivial at
    any row count. Adding a QI column multiplies classes, never rows.
    """
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy(
            F.col("c_nationkey").cast("long").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count("*").alias("class_size"))
        .select(
            "nation",
            "segment",
            F.col("class_size").cast("long").alias("class_size"),
            (F.col("class_size") < _KANON_K).cast("long").alias("violates_k"),
        )
        .orderBy("class_size", "nation", "segment")
    )


# Differential-privacy release: epsilon and the clamp bound (sensitivity
# of the clamped sum). Deterministic md5-lattice uniforms stand in for
# the CSPRNG draws so the mechanism is oracle-checkable; see docstring.
_DP_EPS = 1.0
_DP_CLAMP = 10000.0


def _dp_lap_sql(salt: str, b: str) -> str:
    u = (
        f"((CAST(('0x' || substring(md5('{salt}|' || CAST(c_nationkey AS VARCHAR)"
        f" || '|' || c_mktsegment), 1, 15)) AS BIGINT) % 1000000) + 0.5) / 1000000.0"
    )
    return (
        f"(-({b}) * SIGN({u} - 0.5) * LN(1.0 - 2.0 * ABS({u} - 0.5)))"
    )


@query(
    "dq_dp_counts",
    oracle=f"""
SELECT CAST(c_nationkey AS BIGINT) AS nation,
       c_mktsegment AS segment,
       {_DP_EPS} AS epsilon,
       ROUND(COUNT(*) + {_dp_lap_sql("dpc", f"1.0 / {_DP_EPS}")}, 4) AS n_noisy,
       ROUND({sql_dsum(f"LEAST(GREATEST(c_acctbal, 0.0), {_DP_CLAMP})")}
             + {_dp_lap_sql("dps", f"{_DP_CLAMP} / {_DP_EPS}")}, 4) AS acctbal_sum_noisy
FROM customer
GROUP BY c_nationkey, c_mktsegment
""",
)
def dq_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of the (nation x segment) customer
    histogram: Laplace mechanism on the count (sensitivity 1) and on the
    [0, 10000.0]-clamped account-balance sum (sensitivity =
    10000.0, the contribution bound), both at epsilon = 1.0
    per statistic — the perturbation-side privacy primitive
    (dq_k_anonymity is the suppression side) that a corpus-stats
    publication pipeline runs before numbers leave the enclave.

    HONESTY NOTE: the uniform draws here are md5-lattice values of the
    group key — DETERMINISTIC, hence reproducible and oracle-checkable,
    hence NOT private (a seeded mechanism gives no DP guarantee; an
    adversary who knows the seed subtracts the noise). The operator
    demonstrates calibration and plumbing — clamp -> exact DECIMAL sum
    -> scale-b Laplace via inverse CDF -> single release per statistic —
    and production swaps the lattice uniform for a CSPRNG draw, changing
    no other line. Inverse-CDF ln outputs are ROUNDed to 4 decimals on
    both engines (registry ln rule); the clamped sum accumulates in
    DECIMAL so the noise is added to a bitwise-identical base.

    Scale shape: one partial-agg pass over the fact (count + clamped
    DECIMAL sum are both map-side combinable); the noise is a row-local
    expression over the K-row aggregate. Nothing about the mechanism
    costs more than the aggregate it protects."""
    c = load(spark, sf_dir, "customer")

    def lap(salt: str, b: float) -> F.Column:
        h = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(salt + "|"),
                            F.col("c_nationkey").cast("string"),
                            F.lit("|"),
                            F.col("c_mktsegment"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 1000000
        )
        u = (h + F.lit(0.5)) / F.lit(1000000.0)
        return (
            -F.lit(b)
            * F.signum(u - F.lit(0.5))
            * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
        )

    clamped = F.least(
        F.greatest(F.col("c_acctbal"), F.lit(0.0)), F.lit(_DP_CLAMP)
    )
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.round(F.count("*") + lap("dpc", 1.0 / _DP_EPS), 4).alias(
                "n_noisy"
            ),
            F.round(dsum(clamped) + lap("dps", _DP_CLAMP / _DP_EPS), 4).alias(
                "acctbal_sum_noisy"
            ),
        )
        .select(
            F.col("c_nationkey").cast("long").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.lit(_DP_EPS).alias("epsilon"),
            "n_noisy",
            "acctbal_sum_noisy",
        )
    )


# Randomized response: report truth with prob 1-p, flip with prob p.
_RR_FLIP_PCT = 25  # p = 0.25 on the 100-cell lattice


@query(
    "dq_rr_frequency",
    oracle=f"""
WITH r AS (
  SELECT c_mktsegment AS segment,
         CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS truth,
         CASE WHEN CAST(('0x' || substring(md5('rr|' || CAST(c_custkey AS VARCHAR)), 1, 15))
                   AS BIGINT) % 100 < {_RR_FLIP_PCT} THEN 1 ELSE 0 END AS flip
  FROM customer
)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN truth != flip THEN 1 ELSE 0 END) AS BIGINT) AS reported_yes,
       (CAST(SUM(CASE WHEN truth != flip THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        - {_RR_FLIP_PCT / 100.0}) / {1.0 - 2 * _RR_FLIP_PCT / 100.0} AS est_rate,
       CAST(SUM(truth) AS DOUBLE) / COUNT(*) AS true_rate
FROM r GROUP BY segment
""",
)
def dq_rr_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomized-response frequency estimation — the LOCAL-DP member of
    the privacy family (dq_k_anonymity suppresses, dq_dp_counts
    perturbs centrally, this perturbs AT THE SOURCE): each row reports
    its sensitive bit (account in debt) truthfully with probability
    1-p and flipped with probability p = 25/100, and the
    aggregate debiases with the classic Warner estimator
    pi_hat = (observed_rate - p) / (1 - 2p). true_rate rides along so
    the estimator's calibration is visible (and oracle-checked); in a
    real deployment the truth column never exists server-side.

    HONESTY NOTE (same as dq_dp_counts): the flip draws are md5-lattice
    values of the row key — deterministic, hence verifiable, hence not
    actually private; production swaps the lattice for client-side
    randomness, changing nothing else.

    Every output is exact integer-count arithmetic or a fixed tree of
    IEEE ops over exact ratios — NO rounding anywhere (registry
    integer-ratio rule), so the comparison is bitwise. One partial-agg
    pass; the flip is a row-local expression."""
    c = load(spark, sf_dir, "customer")
    truth = F.when(F.col("c_acctbal") < 0, 1).otherwise(0)
    flip = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rr|"), F.col("c_custkey").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 100
        < _RR_FLIP_PCT,
        1,
    ).otherwise(0)
    p = _RR_FLIP_PCT / 100.0
    r = c.select(
        F.col("c_mktsegment").alias("segment"),
        truth.alias("truth"),
        flip.alias("flip"),
    )
    return r.groupBy("segment").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("truth") != F.col("flip"), 1).otherwise(0))
        .cast("long")
        .alias("reported_yes"),
        (
            (
                F.sum(F.when(F.col("truth") != F.col("flip"), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*")
                - F.lit(p)
            )
            / F.lit(1.0 - 2 * p)
        ).alias("est_rate"),
        (F.sum("truth").cast("double") / F.count("*")).alias("true_rate"),
    )


_WINSOR_SQL = f"""
WITH cuts AS (
  SELECT l_returnflag AS grp,
         ROUND(quantile_cont(l_extendedprice, 0.05), 4) AS lo,
         ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS hi
  FROM lineitem GROUP BY 1
)
SELECT c.grp,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN l.l_extendedprice < c.lo THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clamped_lo,
       CAST(SUM(CASE WHEN l.l_extendedprice > c.hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clamped_hi,
       {sql_dsum("LEAST(GREATEST(l.l_extendedprice, c.lo), c.hi)")} / COUNT(*)
         AS winsorized_mean,
       {sql_dsum("l.l_extendedprice")}
         / COUNT(*) AS raw_mean
FROM lineitem l JOIN cuts c ON c.grp = l.l_returnflag
GROUP BY c.grp
"""


@query("agg_winsorized_mean", oracle=_WINSOR_SQL)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group: clamp each price into its group's
    [p5, p95] band, then average — the robust location estimate that
    keeps every observation (unlike trimming) while bounding any single
    point's influence; reported beside the raw mean and the clamp
    counts so the outlier mass is visible. Complements ts_anomaly_mad
    (which FLAGS outliers) by SUMMARIZING robustly; dq_anomaly_iqr's
    Tukey fences count, this estimates.

    Determinism: the cut points are interpolated percentiles — Spark
    `percentile` ≡ DuckDB `quantile_cont` up to one interpolation ulp,
    so both are ROUND(4)-snapped BEFORE clamping (otherwise a 1-ulp cut
    drift flips boundary rows in and out of the clamp and the sums
    diverge beyond any final rounding); the clamped sum then
    accumulates in DECIMAL and the mean is an exact-sum/count double,
    bitwise identical unrounded.

    Scale: exact percentiles sort per group (agg_percentiles' caveat —
    production swaps percentile_approx with this as audit); the clamp
    pass is one broadcast join of K cut rows onto the fact scan and one
    partial agg."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"), "l_extendedprice"
    )
    cuts = li.groupBy("grp").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.05)"), 4).alias("lo"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("hi"),
    )
    x = F.col("l_extendedprice")
    clamped = F.least(F.greatest(x, F.col("lo")), F.col("hi"))
    return (
        li.join(F.broadcast(cuts), "grp")
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum((x < F.col("lo")).cast("long")).alias("n_clamped_lo"),
            F.sum((x > F.col("hi")).cast("long")).alias("n_clamped_hi"),
            (dsum(clamped) / F.count("*")).alias("winsorized_mean"),
            (dsum(x) / F.count("*")).alias("raw_mean"),
        )
    )


_WSK_BINS = 1024

_WSK_SQL = f"""
WITH rng AS (
  SELECT l_returnflag AS grp,
         MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1
),
binned AS (
  SELECT l.l_returnflag AS grp,
         CAST(LEAST(FLOOR((l.l_extendedprice - r.mn)
                          / (CASE WHEN r.mx = r.mn THEN 1.0
                                  ELSE (r.mx - r.mn) / {_WSK_BINS} END)),
                    {_WSK_BINS - 1}) AS BIGINT) AS k
  FROM lineitem l JOIN rng r ON l.l_returnflag = r.grp
),
hist AS (SELECT grp, k, COUNT(*) AS c FROM binned GROUP BY 1, 2),
cum AS (
  SELECT grp, k,
         SUM(c) OVER (PARTITION BY grp ORDER BY k) AS cw,
         SUM(c) OVER (PARTITION BY grp) AS tw
  FROM hist
),
kcut AS (
  SELECT grp,
         MIN(CASE WHEN cw * 20 >= tw THEN k END) AS klo,
         MIN(CASE WHEN cw * 20 >= tw * 19 THEN k END) AS khi
  FROM cum GROUP BY 1
),
cuts AS (
  SELECT k.grp, r.n,
         r.mn + CAST(k.klo AS DOUBLE)
              * (CASE WHEN r.mx = r.mn THEN 1.0
                      ELSE (r.mx - r.mn) / {_WSK_BINS} END) AS lo,
         r.mn + CAST(k.khi AS DOUBLE)
              * (CASE WHEN r.mx = r.mn THEN 1.0
                      ELSE (r.mx - r.mn) / {_WSK_BINS} END) AS hi,
         (CASE WHEN r.mx = r.mn THEN 0.0
               ELSE (r.mx - r.mn) / {_WSK_BINS} END) AS bin_width
  FROM kcut k JOIN rng r ON r.grp = k.grp
)
SELECT c.grp, c.n, c.lo AS lo_sketch, c.hi AS hi_sketch, c.bin_width,
       CAST(SUM(CASE WHEN l.l_extendedprice < c.lo THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clamped_lo,
       CAST(SUM(CASE WHEN l.l_extendedprice > c.hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clamped_hi,
       CAST(CAST(SUM(CAST(FLOOR(
              LEAST(GREATEST(l.l_extendedprice, c.lo), c.hi) * 1e6 + 0.5)
            AS BIGINT)) AS BIGINT) AS DOUBLE)
         / CAST(c.n AS DOUBLE) / 1e6 AS winsorized_mean_sketch
FROM lineitem l JOIN cuts c ON c.grp = l.l_returnflag
GROUP BY 1, 2, 3, 4, 5
"""


@query("agg_winsorized_mean_sketch", oracle=_WSK_SQL)
def agg_winsorized_mean_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_winsorized_mean's promised 100 TB interior made real (the
    same exact/sketch pairing the MAD, weighted-median and
    rolling-distinct families carry): the p5/p95 clamp cuts come from
    a FIXED-WIDTH 1024-bin count histogram — a mergeable quantile
    sketch whose per-group state is <=1024 (bin, count) rows regardless
    of fact cardinality — instead of the exact per-group percentile
    sort that was SCALING.md's worst ratio (4.03). Each cut is the
    lower edge of the first bin where cumulative count crosses the
    rank (integer cross-multiplied comparisons, no division), so
    |cut_sketch - cut_exact| <= bin_width and the winsorized mean moves
    by at most bin_width per row: tests pin
    |mean_sketch - mean_exact| <= 2*bin_width against the exact twin.

    Determinism: bin keys, cut edges and widths are fixed trees of IEEE
    double ops over exact min/max (wmedian_sketch's argument — no
    rounding needed); the rank comparisons are integer; the clamped sum
    CANNOT take the usual DECIMAL snap because the cut values are
    full-mantissa doubles (a half-tie cast would diverge per engine —
    CLAUDE.md float32 rule), so it accumulates on the
    FLOOR(v*1e6 + 0.5) BIGINT lattice: pure IEEE ops then exact integer
    sums, bitwise identical both engines.

    Scale: one partial-agg range pass, one broadcast-binned histogram
    (per-group state fixed at 1024 bins, windows run on that grain),
    one broadcast clamp pass — no per-group sort anywhere; the 2^53
    lattice guard holds while n*mean_price*1e6 < 9.2e18 (sf100's
    lineitem is ~6e8 rows * ~7e4 * 1e6 ~ 4e16 per group: headroom)."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"), "l_extendedprice"
    )
    x = F.col("l_extendedprice")
    rng = li.groupBy("grp").agg(
        F.min(x).alias("mn"), F.max(x).alias("mx"), F.count("*").alias("n")
    )
    width = F.when(F.col("mx") == F.col("mn"), F.lit(1.0)).otherwise(
        (F.col("mx") - F.col("mn")) / F.lit(_WSK_BINS)
    )
    k = F.least(
        F.floor((x - F.col("mn")) / width), F.lit(_WSK_BINS - 1)
    ).cast("bigint")
    hist = (
        li.join(F.broadcast(rng), "grp")
        .groupBy("grp", k.alias("k"))
        .agg(F.count("*").alias("c"))
    )
    w_cum = Window.partitionBy("grp").orderBy("k")
    w_all = Window.partitionBy("grp")
    cum = hist.select(
        "grp",
        "k",
        F.sum("c").over(w_cum).alias("cw"),
        F.sum("c").over(w_all).alias("tw"),
    )
    kcut = cum.groupBy("grp").agg(
        F.min(F.when(F.col("cw") * 20 >= F.col("tw"), F.col("k"))).alias(
            "klo"
        ),
        F.min(
            F.when(F.col("cw") * 20 >= F.col("tw") * 19, F.col("k"))
        ).alias("khi"),
    )
    cuts = kcut.join(rng, "grp").select(
        "grp",
        "n",
        (F.col("mn") + F.col("klo").cast("double") * width).alias("lo"),
        (F.col("mn") + F.col("khi").cast("double") * width).alias("hi"),
        F.when(F.col("mx") == F.col("mn"), F.lit(0.0))
        .otherwise((F.col("mx") - F.col("mn")) / F.lit(_WSK_BINS))
        .alias("bin_width"),
    )
    clamped = F.least(F.greatest(x, F.col("lo")), F.col("hi"))
    return (
        li.join(F.broadcast(cuts), "grp")
        .groupBy("grp", "n", F.col("lo").alias("lo_sketch"),
                 F.col("hi").alias("hi_sketch"), "bin_width")
        .agg(
            F.sum((x < F.col("lo")).cast("long")).alias("n_clamped_lo"),
            F.sum((x > F.col("hi")).cast("long")).alias("n_clamped_hi"),
            (
                F.sum(
                    F.floor(clamped * F.lit(1e6) + F.lit(0.5))
                ).cast("double")
                / F.col("n").cast("double")
                / F.lit(1e6)
            ).alias("winsorized_mean_sketch"),
        )
    )


_SEQ_BLOCK = 4096  # keys per block in the two-level gap scan
_SEQ_TOPK = 25


_SEQGAP_SQL = f"""
WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders
           WHERE o_orderpriority = '1-URGENT'),
g AS (
  SELECT k + 1 AS gap_start, nxt - 1 AS gap_end, nxt - k - 1 AS gap_len
  FROM (SELECT k, LEAD(k) OVER (ORDER BY k) AS nxt FROM k)
  WHERE nxt > k + 1
)
SELECT gap_start, gap_end, gap_len
FROM g ORDER BY gap_len DESC, gap_start ASC LIMIT {_SEQ_TOPK}
"""


@query("dq_sequence_gaps", oracle=_SEQGAP_SQL)
def dq_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-id-range audit: the 25 largest id gaps in a key
    stream — the ingest-completeness question ("which id ranges did
    the feed drop?") that row counts can't answer and per-day
    freshness (dq_freshness) doesn't see. The driver's order keys are
    dense 0..n-1 (an all-keys audit is vacuously empty), so the
    audited stream is the URGENT-priority subset (~1/5 of keys —
    geometric gaps everywhere): the same shape as auditing one
    partner's ids out of a shared sequence, and the operator is
    agnostic to which predicate defines the stream.

    Scale design — distributed gaps-and-islands: a global LEAD over
    all keys is a one-task sort (the oracle can afford it; an engine
    cannot). Instead keys split into fixed id-range BLOCKS
    (key div 4096): internal gaps come from a block-partitioned lead
    window (fully distributed); cross-block gaps — which subsume any
    EMPTY blocks between nonempty ones — come from one lead over the
    (block, min, max) summary, a data/4096-proportional frame measured
    in scalecheck per the CLAUDE.md window policy; when even block
    summaries outgrow a task, the identical decomposition recurses
    (blocks of blocks, O(log) levels). The union of the two gap sets
    is exactly the global gap set; top-k selection is
    TakeOrderedAndProject, never a global sort.

    Determinism: pure integer arithmetic end to end; the (len DESC,
    start ASC) order is total because gap starts are unique."""
    keys = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .withColumn("block", F.expr(f"k div {_SEQ_BLOCK}"))
    )
    wl = Window.partitionBy("block").orderBy("k")
    nxt = F.lead("k").over(wl)
    internal = (
        keys.select("k", nxt.alias("nxt"))
        .filter(F.col("nxt") > F.col("k") + 1)
        .select(
            (F.col("k") + 1).alias("gap_start"),
            (F.col("nxt") - 1).alias("gap_end"),
        )
    )
    summary = keys.groupBy("block").agg(
        F.min("k").alias("mn"), F.max("k").alias("mx")
    )
    ws = Window.orderBy("block")
    cross = (
        summary.select("mx", F.lead("mn").over(ws).alias("nxt_mn"))
        .filter(F.col("nxt_mn") > F.col("mx") + 1)
        .select(
            (F.col("mx") + 1).alias("gap_start"),
            (F.col("nxt_mn") - 1).alias("gap_end"),
        )
    )
    gaps = internal.unionAll(cross).select(
        "gap_start",
        "gap_end",
        (F.col("gap_end") - F.col("gap_start") + 1).alias("gap_len"),
    )
    return gaps.orderBy(
        F.desc("gap_len"), F.asc("gap_start")
    ).limit(_SEQ_TOPK)


_DIFF_SQL = """
WITH old_v AS (
  SELECT o_orderkey AS k, o_custkey AS ck, o_orderstatus AS st,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS pc,
         o_orderpriority AS pr
  FROM orders
),
new_v AS (
  SELECT k, ck, st,
         CASE WHEN CAST(('0x' || substring(md5('mod:' || CAST(k AS VARCHAR)),
                        1, 8)) AS BIGINT) % 17 = 0
              THEN pc + 100 ELSE pc END AS pc,
         pr
  FROM old_v
  WHERE CAST(('0x' || substring(md5('del:' || CAST(k AS VARCHAR)),
             1, 8)) AS BIGINT) % 29 <> 0
  UNION ALL
  SELECT k + 1000000000 AS k, ck, st, pc, pr
  FROM old_v
  WHERE CAST(('0x' || substring(md5('ins:' || CAST(k AS VARCHAR)),
             1, 8)) AS BIGINT) % 31 = 0
),
d AS (
  SELECT COALESCE(o.k, n.k) AS k,
         CASE WHEN n.k IS NULL THEN 'deleted'
              WHEN o.k IS NULL THEN 'inserted'
              WHEN o.ck IS DISTINCT FROM n.ck
                OR o.st IS DISTINCT FROM n.st
                OR o.pc IS DISTINCT FROM n.pc
                OR o.pr IS DISTINCT FROM n.pr THEN 'changed'
              ELSE 'unchanged' END AS change_type,
         CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
              THEN ABS(n.pc - o.pc) ELSE 0 END AS delta_cents
  FROM old_v o FULL JOIN new_v n ON n.k = o.k
)
SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(delta_cents) AS BIGINT) AS sum_price_delta_cents
FROM d GROUP BY change_type
"""


@query("dq_table_diff", oracle=_DIFF_SQL)
def dq_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation — the table-diff primitive every
    warehouse migration, backfill validation, and CDC audit runs:
    given two versions of a keyed table, classify every key as
    inserted / deleted / changed / unchanged and quantify the drift
    (here: total absolute price movement in exact cents). The
    complement of incr_cdc_apply: that APPLIES a given changelog,
    this DERIVES the changelog by comparing states — together they
    close the reconcile-then-repair loop. The second version is
    synthesized deterministically from orders (md5-selected ~1/29
    deletes, ~1/17 modifications of +1.00, ~1/31 inserts under
    shifted keys) so the classification is fully oracle-checkable.

    Determinism: row comparison is column-wise null-safe equality with
    the price on a FLOOR(x·100) BIGINT cent lattice (never md5 of a
    stringified double — double→string is engine-divergent); counts
    and delta sums are exact integers. Full value hash, no rounding.

    Scale: ONE full outer shuffle join on the key (AQE-sized), the
    change classification row-local, the summary a K-row partial agg.
    At 100 TB both sides prune to changed partitions via
    partition-level stats before the row diff — the operator is the
    row-level core of that pipeline."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("ck"),
        F.col("o_orderstatus").alias("st"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("pc"),
        F.col("o_orderpriority").alias("pr"),
    )

    def pick(tag: str, mod: int) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(tag), F.col("k").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % mod
        )

    new_v = (
        o.filter(pick("del:", 29) != 0)
        .select(
            "k",
            "ck",
            "st",
            F.when(pick("mod:", 17) == 0, F.col("pc") + 100)
            .otherwise(F.col("pc"))
            .alias("pc"),
            "pr",
        )
        .unionAll(
            o.filter(pick("ins:", 31) == 0).select(
                (F.col("k") + 1_000_000_000).alias("k"), "ck", "st", "pc", "pr"
            )
        )
    )
    n = new_v.select(
        F.col("k").alias("nk"),
        F.col("ck").alias("nck"),
        F.col("st").alias("nst"),
        F.col("pc").alias("npc"),
        F.col("pr").alias("npr"),
    )
    j = o.join(n, o.k == n.nk, "full")
    differs = (
        ~F.col("ck").eqNullSafe(F.col("nck"))
        | ~F.col("st").eqNullSafe(F.col("nst"))
        | ~F.col("pc").eqNullSafe(F.col("npc"))
        | ~F.col("pr").eqNullSafe(F.col("npr"))
    )
    change = (
        F.when(F.col("nk").isNull(), F.lit("deleted"))
        .when(F.col("k").isNull(), F.lit("inserted"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    delta = F.when(
        F.col("k").isNotNull() & F.col("nk").isNotNull(),
        F.abs(F.col("npc") - F.col("pc")),
    ).otherwise(F.lit(0))
    return (
        j.select(change.alias("change_type"), delta.alias("delta_cents"))
        .groupBy("change_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("delta_cents").cast("bigint").alias(
                "sum_price_delta_cents"
            ),
        )
    )


_FD_SPECS = [
    # (fd label, table, lhs column, rhs column) — mixes FDs that HOLD
    # (key-determined) with ones the synthetic data violates, so both
    # the zero path and the g3 arithmetic are exercised.
    ("customer.c_custkey->c_nationkey", "customer", "c_custkey",
     "c_nationkey"),
    ("nation.n_nationkey->n_regionkey", "nation", "n_nationkey",
     "n_regionkey"),
    ("part.p_name->p_brand", "part", "p_name", "p_brand"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey",
     "o_orderpriority"),
    ("lineitem.l_partkey->l_suppkey", "lineitem", "l_partkey",
     "l_suppkey"),
]


def _fd_sql_block(fd: str, table: str, lhs: str, rhs: str) -> str:
    return f"""
SELECT '{fd}' AS fd,
       CAST(SUM(grp_n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(SUM(grp_n - max_rhs) AS BIGINT) AS rows_to_remove,
       CAST(SUM(grp_n - max_rhs) AS DOUBLE) / CAST(SUM(grp_n) AS DOUBLE)
         AS g3
FROM (
  SELECT {lhs}, CAST(SUM(c) AS BIGINT) AS grp_n,
         CAST(COUNT(*) AS BIGINT) AS n_rhs,
         CAST(MAX(c) AS BIGINT) AS max_rhs
  FROM (SELECT {lhs}, {rhs}, COUNT(*) AS c FROM {table} GROUP BY 1, 2)
  GROUP BY 1
)"""


_FD_SQL = "\nUNION ALL\n".join(
    _fd_sql_block(*spec) for spec in _FD_SPECS
)


@query("dq_fd_violations", oracle=_FD_SQL)
def dq_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency audit — the schema-semantics
    check beside dq_referential's FK orphans and dq_rules' row
    predicates: for each candidate FD A→B, does A determine B, and if
    not, HOW approximately? Reports the violating-group count and the
    standard g3 error (Kivinen-Mannila): the minimum fraction of rows
    to delete for the FD to hold exactly — per LHS group that's
    everything but the plurality RHS value, Σ(n_g − max_g)/N. The
    audit set mixes key-determined FDs that must report zero with
    violated ones whose g3 the planted test pins by construction.

    Determinism: pure counting — two stacked partial aggs per FD; g3
    is one division of exact BIGINTs (integer-ratio double, unrounded,
    bitwise both engines).

    Scale: per FD, one (A, B) partial agg then one A-keyed agg —
    map-side combine on both; the union is K result rows. FD discovery
    over ALL column pairs would be a different operator (TANE-style
    lattice search); this is the audit of DECLARED dependencies, which
    is what a pipeline contract checks per run."""
    out = None
    for fd, table, lhs, rhs in _FD_SPECS:
        t = load(spark, sf_dir, table)
        pairs = t.groupBy(lhs, rhs).agg(F.count("*").alias("c"))
        grp = pairs.groupBy(lhs).agg(
            F.sum("c").cast("bigint").alias("grp_n"),
            F.count("*").cast("bigint").alias("n_rhs"),
            F.max("c").cast("bigint").alias("max_rhs"),
        )
        one = grp.agg(
            F.lit(fd).alias("fd"),
            F.sum("grp_n").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum((F.col("n_rhs") > 1).cast("bigint"))
            .cast("bigint")
            .alias("n_violating"),
            F.sum(F.col("grp_n") - F.col("max_rhs"))
            .cast("bigint")
            .alias("rows_to_remove"),
            (
                F.sum(F.col("grp_n") - F.col("max_rhs")).cast("double")
                / F.sum("grp_n").cast("double")
            ).alias("g3"),
        )
        out = one if out is None else out.unionAll(one)
    return out


_LDIV_L = 3  # required distinct sensitive values per class
_LDIV_BAND = 5000.0  # balance band width for the second QI column

_LDIV_SQL = f"""
WITH cells AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nation,
         CAST(FLOOR(c_acctbal / {_LDIV_BAND}) AS BIGINT) AS bal_band,
         c_mktsegment AS sens, COUNT(*) AS cnt
  FROM customer
  GROUP BY 1, 2, 3
)
SELECT nation, bal_band,
       CAST(SUM(cnt) AS BIGINT) AS class_size,
       CAST(COUNT(*) AS BIGINT) AS l_distinct,
       ROUND(ln(SUM(cnt)) - SUM(cnt * ln(cnt)) / SUM(cnt), 6) AS h_nats,
       CAST(CASE WHEN COUNT(*) < {_LDIV_L} THEN 1 ELSE 0 END AS BIGINT)
         AS violates_l
FROM cells
GROUP BY 1, 2
"""


@query("dq_l_diversity", oracle=_LDIV_SQL)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al.) — the attack
    k-anonymity misses: a class can be large (k-anonymous) yet have
    every member sharing ONE sensitive value, so membership alone
    discloses the attribute (the homogeneity attack). Per
    quasi-identifier class (nation × account-balance band), report the
    DISTINCT count of the sensitive attribute (market segment), the
    Shannon entropy of its within-class mix (entropy l-diversity
    requires H ≥ ln l — the emitted h_nats against ln {_LDIV_L}), and
    the distinct-l violation flag. Completes the privacy family:
    text_pii_scrub (direct identifiers) → dq_k_anonymity (class size)
    → THIS (class content) → dq_dp_counts (calibrated release).

    Determinism: counts are exact integers; H = ln n − Σc·ln c / n
    (agg_entropy's recipe) takes ROUND(6) (order-sensitive float sum
    over ln terms — registry rule); a single-value class is H = 0 and
    l = 1 exactly, never a log-of-zero.

    Scale: one partial-agg pass to (QI, sensitive) cells — the only
    fact-sized shuffle — then a cell-count-bounded second agg. Adding
    QI columns multiplies cells, never rows."""
    c = load(spark, sf_dir, "customer")
    cells = c.groupBy(
        F.col("c_nationkey").cast("long").alias("nation"),
        F.floor(F.col("c_acctbal") / _LDIV_BAND).cast("long").alias("bal_band"),
        F.col("c_mktsegment").alias("sens"),
    ).agg(F.count("*").alias("cnt"))
    n = F.sum("cnt")
    return cells.groupBy("nation", "bal_band").agg(
        n.cast("long").alias("class_size"),
        F.count("*").cast("long").alias("l_distinct"),
        F.round(
            F.log(n) - F.sum(F.col("cnt") * F.log("cnt")) / n, 6
        ).alias("h_nats"),
        (F.count("*") < _LDIV_L).cast("long").alias("violates_l"),
    )
