"""Aggregation operators (SURVEY.md §2.B).

agg_price_stats is the flagship shape: the canonical query of the
reference's data model (price stats per commodity/state/month over the
mandi fact table, SURVEY.md §1.1) re-expressed on the driver star
schema. Partial (map-side) aggregation comes free from Catalyst's
HashAggregate(partial) → Exchange → HashAggregate(final) split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import DEC, DEC_WIDE, davg, dsum, sql_davg, sql_dsum
from ..memo import pin
from ..registry import query
from ..tables import load


@query(
    "agg_price_stats",
    oracle=f"""
SELECT p.p_brand,
       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS order_year,
       COUNT(*) AS n_lines,
       {sql_dsum("l.l_quantity")} AS sum_qty,
       {sql_davg("l.l_extendedprice")} AS avg_price,
       MIN(l.l_extendedprice) AS min_price,
       MAX(l.l_extendedprice) AS max_price,
       ROUND(STDDEV_SAMP(l.l_extendedprice), 4) AS std_price
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand, CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT)
""",
)
def agg_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg/stddev price stats per (brand, year) — the
    `agg_price_stats` shape of SURVEY.md §2.B (per Commodity×State×month
    on the agmarknet table). part is broadcast (small dim); the
    lineitem×orders join is the only large shuffle; the groupBy reuses
    AQE-coalesced partitions."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.count("*").alias("n_lines"),
            dsum("l_quantity").alias("sum_qty"),
            davg("l_extendedprice").alias("avg_price"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        )
    )


@query(
    "agg_percentiles",
    oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90/p99 price per flag) —
    Spark `percentile` ≡ DuckDB `quantile_cont` (both linear
    interpolation at rank p·(n−1)); ROUND(…,4) absorbs the one-ulp
    interpolation-arithmetic difference. At 100 TB exact percentiles
    need a full sort per group — `percentile_approx` (KLL/GK sketch,
    single pass, fixed memory) is the production default and is
    engine-specific by construction, hence exact-only in the oracle
    gate."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", 0.9), 4).alias("p90"),
        F.round(F.percentile("l_extendedprice", 0.99), 4).alias("p99"),
    )


@query(
    "agg_count_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (expand + two-phase aggregate in Spark).
    The approximate (HLL) variant is `agg_approx_count_distinct`
    (rows-only check: approx values are engine-specific by design)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@query(
    "agg_approx_count_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS exact_n_suppliers,
       1 AS approx_within_5pct
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — at 100 TB this replaces exact
    countDistinct wherever a ~2% error is acceptable: single pass, fixed
    memory, no expand. The raw estimate is engine-internal (DuckDB's HLL
    would differ by construction), so the oracle checks what IS
    cross-engine expressible: the exact count, and the sketch's accuracy
    CONTRACT as a computed flag — |approx − exact| / exact ≤ 5%
    (rsd 0.02 ⇒ 5% is 2.5σ) must hold on the Spark side, asserted as a
    constant 1 in the SQL. A drifting estimate flips the flag and the
    hash goes red. tests/test_extensions.py additionally bounds the
    estimate values themselves."""
    li = load(spark, sf_dir, "lineitem")
    agged = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_suppkey", 0.02).alias("approx"),
        F.countDistinct("l_suppkey").alias("exact_n_suppliers"),
    )
    within = (
        F.abs(F.col("approx") - F.col("exact_n_suppliers"))
        / F.col("exact_n_suppliers")
        <= 0.05
    )
    return agged.select(
        "l_returnflag",
        "exact_n_suppliers",
        within.cast("int").alias("approx_within_5pct"),
    )


@query(
    "agg_distinct",
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus
FROM lineitem
""",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection — planned as a groupBy on all columns, so it
    gets map-side partial dedup before the shuffle."""
    return load(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@query(
    "agg_rollup_cube",
    oracle=f"""
SELECT COALESCE(r.r_name, 'ALL') AS region_name,
       COALESCE(n.n_name, 'ALL') AS nation_name,
       COUNT(*) AS n_customers,
       {sql_dsum("c.c_acctbal")} AS sum_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
""",
)
def agg_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy subtotals (region ▷ nation, the State ▷ District ▷ Market
    analog): ROLLUP computes all three grouping sets in one pass over the
    shuffled data instead of three scans. Grouping-null keys are
    COALESCEd to 'ALL' so the rollup rows hash identically to the oracle
    (the data contains no real nulls in these keys)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), dsum("c_acctbal").alias("sum_acctbal"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "n_customers",
            "sum_acctbal",
        )
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
SELECT COALESCE(c.c_mktsegment, 'ALL') AS segment,
       COALESCE(o.o_orderpriority, 'ALL') AS priority,
       CAST(GROUPING(c.c_mktsegment) * 2 + GROUPING(o.o_orderpriority) AS BIGINT)
           AS gid,
       COUNT(*) AS n_orders,
       {sql_dsum("o.o_totalprice")} AS sum_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY GROUPING SETS ((c.c_mktsegment), (o.o_orderpriority),
                        (c.c_mktsegment, o.o_orderpriority))
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS + grouping_id (SURVEY.md §2.B
    agg_rollup_cube row): three grouping sets computed in one pass —
    per-segment, per-priority, and the cross — with grouping_id
    disambiguating subtotal rows from real 'ALL'-valued keys. Catalyst
    plans this as an Expand (one row per set) feeding a single hash
    aggregate; at 100 TB that is one shuffle instead of three scans."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    grouped = j.groupingSets(
        [["c_mktsegment"], ["o_orderpriority"], ["c_mktsegment", "o_orderpriority"]],
        "c_mktsegment",
        "o_orderpriority",
    ).agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
    )
    return grouped.select(
        F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "gid",
        "n_orders",
        "sum_price",
    )


_PIVOT_YEARS = [1995, 1996, 1997, 1998, 1999, 2000, 2001]


@query(
    "agg_pivot",
    oracle="""
SELECT o_orderpriority,
       {cols}
FROM orders
GROUP BY o_orderpriority
""".format(
        cols=",\n       ".join(
            f"COUNT(CASE WHEN EXTRACT(YEAR FROM o_orderdate) = {y} THEN 1 END) AS y{y}"
            for y in _PIVOT_YEARS
        )
    ),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (priority × order-year count matrix — the Commodity×month
    analog). Pivot values are enumerated explicitly: with them Spark
    plans a single-pass conditional aggregation and skips the extra
    distinct-values job; the oracle is the equivalent manual
    CASE-WHEN fan-out."""
    o = load(spark, sf_dir, "orders")
    df = (
        o.select("o_orderpriority", F.year("o_orderdate").alias("yr"))
        .groupBy("o_orderpriority")
        .pivot("yr", _PIVOT_YEARS)
        .count()
    )
    renamed = df.select(
        "o_orderpriority",
        *[F.coalesce(F.col(str(y)), F.lit(0)).cast("long").alias(f"y{y}") for y in _PIVOT_YEARS],
    )
    return renamed


@query(
    "agg_corr_covar",
    oracle=f"""
WITH m AS (
  SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
         {sql_dsum("l_quantity")} AS sx,
         {sql_dsum("l_extendedprice")} AS sy,
         {sql_dsum("l_quantity * l_extendedprice", DEC_WIDE)} AS sxy,
         {sql_dsum("l_quantity * l_quantity", DEC_WIDE)} AS sxx,
         {sql_dsum("l_extendedprice * l_extendedprice", DEC_WIDE)} AS syy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       CASE WHEN n > 1 AND (n * sxx - sx * sx) > 0
                 AND (n * syy - sy * sy) > 0 THEN
         ROUND((n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
       END AS qty_price_corr,
       CASE WHEN n > 1 THEN
         ROUND((sxy - sx * sy / n) / (n - 1), 4)
       END AS qty_price_covar
FROM m
""",
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics (Pearson correlation + sample covariance) per
    group — the "do arrivals move prices" question over the agmarknet
    fact table. Computed from five exact DECIMAL moments (one
    partial-aggregable pass — parallelizes exactly like SUM), NOT the
    built-in corr/covar_samp: under ANSI those THROW DIVIDE_BY_ZERO
    inside the aggregate on a zero-variance or single-row group (no
    projection-level guard can reach them — degencheck's constant
    lineitem pins this), while explicit moments let both engines guard
    the ratios identically: corr is NULL when either variance is zero
    or n = 1, covar NULL when n = 1. The products carry <= 4 decimal
    digits so the `DEC_WIDE` casts are exact; the final formula is
    the same IEEE tree on identical doubles, with ROUND absorbing the
    ~1-ulp decimal->double conversion drift of the wide sums."""
    li = load(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    g = li.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.sum(x.cast(DEC)).alias("dsx"),
        F.sum(y.cast(DEC)).alias("dsy"),
        F.sum((x * y).cast(DEC_WIDE)).alias("dsxy"),
        F.sum((x * x).cast(DEC_WIDE)).alias("dsxx"),
        F.sum((y * y).cast(DEC_WIDE)).alias("dsyy"),
    )
    n = F.col("cnt").cast("double")
    sx, sy = F.col("dsx").cast("double"), F.col("dsy").cast("double")
    sxy = F.col("dsxy").cast("double")
    sxx, syy = F.col("dsxx").cast("double"), F.col("dsyy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    null_d = F.lit(None).cast("double")
    return g.select(
        "l_returnflag",
        F.when(
            (n > 1) & (vx > 0) & (vy > 0),
            F.round((n * sxy - sx * sy) / F.sqrt(vx * vy), 6),
        )
        .otherwise(null_d)
        .alias("qty_price_corr"),
        F.when(n > 1, F.round((sxy - sx * sy / n) / (n - 1), 4))
        .otherwise(null_d)
        .alias("qty_price_covar"),
    )


_HIST_LO, _HIST_HI, _HIST_NBINS = 900.0, 105000.0, 16


@query(
    "agg_histogram",
    oracle=f"""
SELECT CAST(GREATEST(0, LEAST({_HIST_NBINS - 1},
         CAST(FLOOR((l_extendedprice - {_HIST_LO})
                    / (({_HIST_HI} - {_HIST_LO}) / {_HIST_NBINS})) AS INT)))
         AS BIGINT) AS bin,
       COUNT(*) AS cnt
FROM lineitem
GROUP BY 1
""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of the price column via pure arithmetic
    binning (floor((x-lo)/width), clamped) — the price-distribution
    profile query. Binning is row-local arithmetic inside whole-stage
    codegen and the aggregation carries exactly nbins keys, so at 100 TB
    the shuffle is nbins rows per task regardless of data volume —
    histograms are the textbook partial-aggregation win."""
    li = load(spark, sf_dir, "lineitem")
    width = (_HIST_HI - _HIST_LO) / _HIST_NBINS
    bin_ = F.greatest(
        F.lit(0),
        F.least(
            F.lit(_HIST_NBINS - 1),
            F.floor((F.col("l_extendedprice") - _HIST_LO) / width).cast("int"),
        ),
    ).cast("long")
    return (
        li.groupBy(bin_.alias("bin"))
        .agg(F.count("*").alias("cnt"))
    )


_Q1_SQL = f"""
SELECT l_returnflag,
       l_linestatus,
       {sql_dsum("l_quantity")} AS sum_qty,
       {sql_dsum("l_extendedprice")} AS sum_base_price,
       {sql_dsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2023-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("sql_interface", oracle=_Q1_SQL)
def sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front end, end to end: the SAME ANSI text that serves as
    the DuckDB oracle is executed by `spark.sql` over registered views —
    a TPC-H Q1-shaped pricing summary. One string, two engines, one
    hash: the strongest possible statement that the engine's SQL surface
    is ANSI-faithful (dialect-drift would fail the gate immediately).
    Catalyst plans it identically to the DataFrame form — same
    partial/final hash-agg, same pushed date filter."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q1_SQL)


@query(
    "incr_agg_merge",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {sql_dsum("value")} AS sum_value
FROM events
GROUP BY event_type
""",
)
def incr_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance, proven: a 'snapshot' aggregate
    (events before the cutover) and a 'delta' aggregate (events after)
    are merged by re-aggregating their partials — and the oracle is the
    full recompute, so the gate certifies snapshot ⊕ delta ≡ full.

    This is the reference's whole operating model (3-hourly incremental
    harvests accumulating into one dataset, SURVEY.md §1.2) applied to
    aggregates: at 100 TB you never recompute the rollup — you aggregate
    the new partition and MERGE partials. Works because COUNT/SUM are
    commutative monoids; the same split works per key for min/max and
    any partial-aggregable sketch (HLL, KLL)."""
    ev = load(spark, sf_dir, "events")
    cut = F.lit("2024-03-01").cast("timestamp")

    def part(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("sum_dec"),
        )

    snapshot = part(ev.filter(F.col("ts") < cut))
    delta = part(ev.filter(F.col("ts") >= cut))
    return (
        snapshot.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
        )
    )


_TOPK_USERS = 10


@query(
    "incr_topk_merge",
    oracle=f"""
SELECT user_id, n_events FROM (
    SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
) t
ORDER BY n_events DESC, user_id
LIMIT {_TOPK_USERS}
""",
)
def incr_topk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance (EDBT'20 incremental top-k
    similarity search, PAPERS.md, applied to the reference's 3-hourly
    harvest loop): the most-active-users leaderboard is maintained, not
    recomputed. Candidates for the new top-k are ONLY (stored top-k
    keys) ∪ (keys touched by the delta); every other key's monotone
    score (a count) is unchanged while candidates only grow, so its
    rank can only worsen — the oracle is the full recompute, making the
    pruning argument machine-checked, ties included (the (score DESC,
    user_id) ordering is total and static for untouched keys).

    At 100 TB: the per-key rollup is maintained by MERGE on delta keys
    only, the candidate set is k + |delta keys| rows regardless of
    history size, and the re-rank is a TakeOrderedAndProject over that
    candidate slice — the full fact table is never re-read."""
    ev = load(spark, sf_dir, "events")
    cut = F.lit("2024-03-01").cast("timestamp")

    def per_user(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(F.count("*").alias("n"))

    snapshot = per_user(ev.filter(F.col("ts") < cut))
    delta = per_user(ev.filter(F.col("ts") >= cut))
    stored_topk = (
        snapshot.orderBy(F.desc("n"), F.asc("user_id"))
        .limit(_TOPK_USERS)
        .select("user_id")
    )
    candidates = stored_topk.unionByName(delta.select("user_id")).distinct()
    merged = (
        snapshot.unionByName(delta)
        .groupBy("user_id")
        .agg(F.sum("n").alias("n_events"))
    )
    return (
        merged.join(F.broadcast(candidates), "user_id", "leftsemi")
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(_TOPK_USERS)
    )


@query(
    "agg_collect_sorted",
    oracle="""
SELECT l_returnflag,
       array_to_string(list_sort(list(DISTINCT CAST(l_quantity AS BIGINT))),
                       '|') AS quantities,
       CAST(len(list(DISTINCT l_quantity)) AS BIGINT) AS n_distinct
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-valued aggregation: the sorted distinct quantity vector per
    group — list results hash across engines only because the list is
    canonicalized (distinct + sort) inside the query; a bare
    collect_list is partition-order-dependent and would never match.
    The vector is serialized to one pipe-joined string (values cast to
    BIGINT first — double→string rendering differs per engine) so the
    result frame carries only scalar columns: array cells are not
    hashable by pandas-based comparators, and the long-form alternative
    is a plain explode anyway. At scale collect_* must be bounded
    (here: the quantity domain); unbounded group payloads belong in a
    re-explode pipeline, not an array cell."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr(
            "concat_ws('|', transform(sort_array(collect_set("
            "CAST(l_quantity AS BIGINT))), x -> CAST(x AS STRING)))"
        ).alias("quantities"),
        F.size(F.collect_set("l_quantity")).cast("long").alias("n_distinct"),
    )


_SUBQ_SQL = f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_expensive
FROM orders o
WHERE o.o_totalprice >
      (SELECT 1.5 * {sql_dsum("o2.o_totalprice")}
             / COUNT(*)
       FROM orders o2
       WHERE o2.o_orderpriority = o.o_orderpriority)
GROUP BY o.o_orderpriority
"""


@query("sql_subquery", oracle=_SUBQ_SQL)
def sql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, same ANSI text on both engines:
    orders costing more than 1.5× their priority class's mean. Catalyst
    DECORRELATES it — the plan is one aggregate of orders by priority
    joined back to orders, not a per-row subquery execution — which is
    the difference between O(n) and O(n²) at 100 TB. The threshold uses
    the exact-decimal AVG so the comparison boundary is bit-identical
    across engines (a float AVG threshold could flip rows at the last
    ulp)."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SUBQ_SQL)


@query(
    "agg_hll_merge",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_distinct,
       1 AS merge_consistent,
       1 AS merged_within_5pct
FROM events
GROUP BY event_type
""",
)
def agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL, built
    into Spark): per event_type, daily user sketches are built once,
    then UNIONed into the period-level sketch — the COUNT DISTINCT
    twin of incr_agg_merge's rollup maintenance. Exact COUNT DISTINCT
    is not a monoid (you can't merge two distinct counts), so at 100 TB
    the only way to maintain a distinct rollup incrementally is to
    store sketches and merge; this operator IS that path, with the
    exact count carried alongside as its audit.

    The DataSketches binary is engine-internal, so the oracle checks the
    sketch's cross-engine-expressible CONTRACT as computed flags,
    asserted constant-1 in the SQL: (a) merge consistency — the
    daily-sketches-UNIONed estimate is within 1% of the directly-built
    whole-period estimate, and (b) the merged estimate sits within 5%
    of exact (lgConfigK=12 ⇒ ~1.6% RSE; 5% is ~3σ). Either property
    breaking flips a flag and the hash goes red. Consistency is a tight
    TOLERANCE, not exact equality: register-wise the union is lossless
    for same-lgK dense sketches, but the union gadget and the direct
    build promote coupon→HLL mode at different thresholds, so around
    the promotion cardinality (~1.5k at lgK=12) the two estimates drift
    a few per mille (measured 1494 vs 1488 at sf0.1 — caught by the r6
    cross-SF sweep; both were coupon-exact at the sf0.01 gate).
    tests/test_extensions.py additionally pins the estimate values."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("hll_merged")
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("hll_direct"),
        F.count_distinct("user_id").alias("exact_distinct"),
    )
    return (
        merged.join(direct, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            (
                F.abs(F.col("hll_merged") - F.col("hll_direct"))
                / F.col("hll_direct")
                <= 0.01
            )
            .cast("int")
            .alias("merge_consistent"),
            (
                F.abs(F.col("hll_merged") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                <= 0.05
            )
            .cast("int")
            .alias("merged_within_5pct"),
        )
    )


_EXISTS_SQL = """
SELECT c.c_mktsegment AS segment, COUNT(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey
                    AND o2.o_orderpriority = '1-URGENT')
GROUP BY c.c_mktsegment
"""


@query("sql_exists_subquery", oracle=_EXISTS_SQL)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS, same ANSI text on both engines:
    customers with a big order but no urgent one. Catalyst decorrelates
    the pair into one LEFT SEMI and one LEFT ANTI hash join against
    orders — set-membership scans, not per-customer subquery executions
    (sql_subquery's argument, extended from scalar to existential
    subqueries). At 100 TB both joins shuffle on custkey once and AQE
    handles the skewed customers."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_SQL)


_TOPF_K = 3


@query(
    "agg_topk_freq",
    oracle=f"""
WITH c AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q, COUNT(*) AS cnt
  FROM lineitem GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
), r AS (
  SELECT l_returnflag, q, cnt,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY cnt DESC, q) AS rn
  FROM c
)
SELECT l_returnflag,
       string_agg(CAST(q AS VARCHAR), '|' ORDER BY rn) AS top_values,
       string_agg(CAST(cnt AS VARCHAR), '|' ORDER BY rn) AS top_counts
FROM r WHERE rn <= {_TOPF_K}
GROUP BY l_returnflag
""",
)
def agg_topk_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most frequent values per group, as rank-ordered
    arrays — agg_mode generalized from the argmax to the head of the
    frequency table (the heavy-hitters report each curation run
    publishes per column). Count per (group, value), rank inside the
    group with a deterministic (cnt DESC, value) order, keep k, then
    canonicalize into arrays via the sorted-struct collect (lists only
    hash across engines when the query itself fixes their order —
    agg_collect_sorted's rule). The ranked input is ≤ |values| rows per
    group and k is constant, so the collect is bounded at any fact
    scale; the unbounded-sketch alternative is count-min + heap, this
    exact form is its audit. The ranked vectors are serialized to
    pipe-joined strings (rank order fixed by the sorted-struct collect)
    so the result carries only scalar columns — array cells are not
    hashable by pandas-based comparators."""
    li = load(spark, sf_dir, "lineitem")
    c = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("q")
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("cnt"), F.asc("q"))
    r = c.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= _TOPF_K)
    packed = "array_sort(collect_list(struct(rn, q, cnt)))"
    return r.groupBy("l_returnflag").agg(
        F.expr(
            f"concat_ws('|', transform({packed}, s -> CAST(s.q AS STRING)))"
        ).alias("top_values"),
        F.expr(
            f"concat_ws('|', transform({packed}, s -> CAST(s.cnt AS STRING)))"
        ).alias("top_counts"),
    )


_Q5_SQL = f"""
SELECT n.n_name AS nation,
       {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
       COUNT(*) AS n_lines
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
"""


@query("sql_star_join", oracle=_Q5_SQL)
def sql_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full star-schema join, TPC-H Q5 shape: six tables, a
    local-supplier θ-condition (customer and supplier share a nation),
    region/date filters, DECIMAL-exact revenue — the one query that
    exercises join REORDERING end to end. Catalyst pushes the region
    filter through nation to prune before the fact joins, broadcasts
    every dimension, and leaves lineitem⋈orders as the single big
    exchange; the same ANSI text runs on both engines (sql_interface's
    argument at maximum join width). At 100 TB this is the query
    bucketing (join_bucketed) and runtime filters (join_bloom_runtime)
    exist to accelerate."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q5_SQL)


_QH_W = 10.0  # equi-width histogram bin width for the mergeable quantile


@query(
    "incr_quantile_merge",
    oracle=f"""
WITH snap AS (
  SELECT event_type, CAST(FLOOR(value / {_QH_W}) AS BIGINT) AS bin,
         COUNT(*) AS n
  FROM events WHERE ts < TIMESTAMP '2024-03-01'
  GROUP BY event_type, bin
), delta AS (
  SELECT event_type, CAST(FLOOR(value / {_QH_W}) AS BIGINT) AS bin,
         COUNT(*) AS n
  FROM events WHERE ts >= TIMESTAMP '2024-03-01'
  GROUP BY event_type, bin
), merged AS (
  SELECT event_type, bin, CAST(SUM(n) AS BIGINT) AS n
  FROM (SELECT * FROM snap UNION ALL SELECT * FROM delta)
  GROUP BY event_type, bin
), c AS (
  SELECT event_type, bin, n,
         SUM(n) OVER (PARTITION BY event_type ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(n) OVER (PARTITION BY event_type) AS tot
  FROM merged
), sel AS (
  SELECT event_type, bin, n, cum - n AS cum_before, tot,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bin) AS rn
  FROM c WHERE 2 * cum >= tot
)
SELECT event_type,
       CAST(tot AS BIGINT) AS n_events,
       bin AS median_bin,
       bin * {_QH_W} + {_QH_W} * ((tot * 0.5 - cum_before) / n) AS approx_p50
FROM sel WHERE rn = 1
""",
)
def incr_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILES under incremental maintenance: exact
    percentiles are not a monoid (you can't merge two medians), so the
    incremental path keeps a fixed-lattice equi-width histogram per
    group — a sketch whose merge is just per-bin addition — and reads
    the quantile off the merged histogram with linear interpolation.
    Snapshot (events before the cutover) and delta histograms are built
    separately and MERGED, the same split incr_agg_merge proves for
    SUM/COUNT; the oracle recomputes from scratch, certifying
    snapshot ⊕ delta ≡ full. This is the KLL/t-digest operating model
    with a deterministic, engine-portable sketch (bin ids and counts
    are exact integers; the interpolation is arithmetic on exactly-
    representable BIGINTs, bitwise identical across engines).

    At 100 TB: each partition emits ≤ |groups|×|bins| partial rows,
    the merge is one tiny shuffle, and the stored sketch is a few KB
    per group — the rollup never rescans history."""
    ev = load(spark, sf_dir, "events")
    cut = F.lit("2024-03-01").cast("timestamp")

    def hist(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type",
            F.floor(F.col("value") / _QH_W).cast("long").alias("bin"),
        ).agg(F.count("*").alias("n"))

    snap = hist(ev.filter(F.col("ts") < cut))
    delta = hist(ev.filter(F.col("ts") >= cut))
    merged = (
        snap.unionByName(delta)
        .groupBy("event_type", "bin")
        .agg(F.sum("n").alias("n"))
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    c = merged.select(
        "event_type",
        "bin",
        "n",
        F.sum("n").over(wc).alias("cum"),
        F.sum("n").over(wt).alias("tot"),
    )
    sel = (
        c.filter(2 * F.col("cum") >= F.col("tot"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("bin")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return sel.select(
        "event_type",
        F.col("tot").cast("long").alias("n_events"),
        F.col("bin").alias("median_bin"),
        (
            F.col("bin") * _QH_W
            + _QH_W
            * (
                (F.col("tot") * 0.5 - (F.col("cum") - F.col("n")))
                / F.col("n")
            )
        ).alias("approx_p50"),
    )


_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
"""


@query("sql_lateral_join", oracle=_LATERAL_SQL)
def sql_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — the ANSI
    top-N-per-group idiom, same text on both engines: each customer's
    two biggest orders. Catalyst DECORRELATES the lateral into a
    window-ranked join (one orders shuffle keyed o_custkey, rank ≤ 2),
    not a per-customer subquery execution — sql_subquery's argument
    extended from scalar to table subqueries; DuckDB plans the same
    shape. The deterministic (price, orderkey) order makes the N-row
    cut engine-portable. At 100 TB this beats the naive join+window the
    user would hand-write only in clarity — the PLANS are identical,
    which is the point: the declarative form costs nothing."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@query(
    "agg_filtered",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
       CAST(SUM(CAST(l_extendedprice AS {DEC}))
            FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS sum_discounted,
       CAST(COALESCE(MAX(l_quantity) FILTER (WHERE l_returnflag = 'R'),
                     0) AS BIGINT) AS max_qty_returned
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered (conditional) aggregation — ANSI FILTER (WHERE ...):
    several differently-predicated aggregates in ONE pass over the
    fact, the idiom that replaces N self-joins or N scans with one.
    Spark expresses each as agg(when(pred, x)) — null where the
    predicate fails, so count/sum/max skip exactly the filtered rows —
    and keeps the whole thing a single partial-aggregable
    HashAggregate; the DECIMAL accumulation keeps the conditional sum
    exact (registry.py rules). At 100 TB the win is structural: one
    scan, one shuffle, regardless of how many conditions ride along."""
    li = load(spark, sf_dir, "lineitem")
    disc = F.when(
        F.col("l_discount") > 0.05, F.col("l_extendedprice")
    ).cast(DEC)
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_lines"),
        F.count(F.when(F.col("l_quantity") > 25, 1)).alias("n_bulk"),
        F.sum(disc).cast("double").alias("sum_discounted"),
        F.coalesce(
            F.max(
                F.when(F.col("l_returnflag") == "R", F.col("l_quantity"))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("max_qty_returned"),
    )


_SPINE_MONTHS = 132  # fixed calendar 1992-01 .. 2002-12 (covers the data)

_SPINE_SPARK_SQL = f"""
WITH RECURSIVE m(n) MAX RECURSION LEVEL {_SPINE_MONTHS + 10} AS (
  SELECT 0 UNION ALL SELECT n + 1 FROM m WHERE n < {_SPINE_MONTHS - 1}
),
spine AS (
  SELECT CAST(add_months(DATE '1992-01-01', n) AS DATE) AS month_start FROM m
),
agg AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         COUNT(*) AS n_orders,
         {sql_dsum("o_totalprice")} AS sum_price
  FROM orders GROUP BY 1
)
SELECT s.month_start,
       CAST(COALESCE(a.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(a.sum_price, 0.0) AS DOUBLE) AS sum_price
FROM spine s LEFT JOIN agg a ON a.month_start = s.month_start
"""

_SPINE_DUCK_SQL = f"""
WITH RECURSIVE m(n) AS (
  SELECT 0 UNION ALL SELECT n + 1 FROM m WHERE n < {_SPINE_MONTHS - 1}
),
spine AS (
  SELECT CAST(DATE '1992-01-01' + n * INTERVAL 1 MONTH AS DATE) AS month_start
  FROM m
),
agg AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         COUNT(*) AS n_orders,
         {sql_dsum("o_totalprice")} AS sum_price
  FROM orders GROUP BY 1
)
SELECT s.month_start,
       CAST(COALESCE(a.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(a.sum_price, 0.0) AS DOUBLE) AS sum_price
FROM spine s LEFT JOIN agg a ON a.month_start = s.month_start
"""


@query("sql_recursive_cte", oracle=_SPINE_DUCK_SQL)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE): generate a complete
    132-month calendar spine by recursion, then LEFT JOIN
    the monthly order rollup onto it so empty months surface as
    explicit zeros — the gap-free reporting spine ts_gap_fill builds
    from observed keys, here built from pure recursion (the only way
    when leading/trailing gaps must also appear). The recursion is
    driver-free and bounded by the WHERE; each level is one row, and
    Spark executes the whole chain as iterative local relations before
    the distributed join — the fact table is still touched exactly
    once. The oracle differs only in date arithmetic spelling
    (add_months ↔ + n·INTERVAL 1 MONTH)."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SPINE_SPARK_SQL)


_CMS_DEPTH = 4
_CMS_WIDTH = 64
_CMS_PROBE = 20  # estimate the top-k users by exact count


def _cms_bucket_sql(i: int, key: str) -> str:
    return (
        f"CAST(('0x' || substring(md5('{i}:' || CAST({key} AS VARCHAR)), 1, 8))"
        f" AS BIGINT) % {_CMS_WIDTH}"
    )


_CMS_SQL = f"""
WITH rows_h AS (
  SELECT user_id, i,
         CASE i {" ".join(f"WHEN {i} THEN {_cms_bucket_sql(i, 'user_id')}" for i in range(_CMS_DEPTH))} END AS bucket
  FROM events, (SELECT UNNEST(generate_series(0, {_CMS_DEPTH - 1})) AS i)
),
sketch AS (
  SELECT i, bucket, COUNT(*) AS c FROM rows_h GROUP BY i, bucket
),
exact AS (
  SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY user_id
),
probe AS (
  SELECT user_id, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, user_id LIMIT {_CMS_PROBE}
),
est AS (
  SELECT p.user_id, p.exact_cnt, MIN(s.c) AS est_cnt
  FROM probe p, (SELECT UNNEST(generate_series(0, {_CMS_DEPTH - 1})) AS i) d
  JOIN sketch s
    ON s.i = d.i
   AND s.bucket = CASE d.i {" ".join(f"WHEN {i} THEN {_cms_bucket_sql(i, 'p.user_id')}" for i in range(_CMS_DEPTH))} END
  GROUP BY p.user_id, p.exact_cnt
)
SELECT user_id, exact_cnt, CAST(est_cnt AS BIGINT) AS est_cnt,
       CAST(est_cnt - exact_cnt AS BIGINT) AS overcount
FROM est
"""


@query("agg_countmin_sketch", oracle=_CMS_SQL)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built as pure relational algebra — the
    frequency-sketch twin of agg_hll_merge, with the sketch ITSELF
    oracle-checked (not just its answers): each event lands in
    4 md5-derived buckets of a 64-wide counter
    array; a key's estimate is the MIN over its row counters, which
    can only OVERcount (collisions add, never subtract) — the emitted
    `overcount` column is the audit, and the ≥0 invariant is pinned in
    tests/test_extensions.py.

    Because the sketch is a (depth × width) counter TABLE built by one
    partial-aggregated groupBy, it is mergeable across shards/days by
    cell-wise addition — the incr_agg_merge maintenance pattern applied
    to frequencies; at 100 TB the sketch is a few KB per partition
    regardless of key cardinality, where the exact GROUP BY carries the
    full key domain through its shuffle. Probing stays distributed: the
    20-row probe set broadcast-joins the sketch."""
    ev = load(spark, sf_dir, "events")

    def bucket(i, key_col):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}:"), key_col.cast("string"))), 1, 8),
                16, 10,
            ).cast("long") % _CMS_WIDTH
        )

    hashed = ev.select(
        "user_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("i"),
                         bucket(i, F.col("user_id")).alias("bucket"))
                for i in range(_CMS_DEPTH)
            ])
        ).alias("h"),
    ).select("user_id", "h.i", "h.bucket")
    sketch = hashed.groupBy("i", "bucket").agg(F.count("*").alias("c"))

    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_cnt"))
    probe = exact.orderBy(F.desc("exact_cnt"), F.asc("user_id")).limit(_CMS_PROBE)
    probe_h = probe.select(
        "user_id",
        "exact_cnt",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("i"),
                         bucket(i, F.col("user_id")).alias("bucket"))
                for i in range(_CMS_DEPTH)
            ])
        ).alias("h"),
    ).select("user_id", "exact_cnt", "h.i", "h.bucket")
    est = (
        F.broadcast(probe_h)
        .join(sketch, ["i", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("c").alias("est_cnt"))
    )
    return est.select(
        "user_id",
        "exact_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
    )


_BLOOM_M = 1024  # bits
_BLOOM_K = 3  # hash functions


def _bloom_pos_sql(i: int, key: str) -> str:
    return (
        f"CAST(('0x' || substring(md5('b{i}:' || CAST({key} AS VARCHAR)), 1, 8))"
        f" AS BIGINT) % {_BLOOM_M}"
    )


_BLOOM_SQL = f"""
WITH build AS (SELECT DISTINCT l_suppkey AS key FROM lineitem),
bits AS (
  SELECT DISTINCT
         CASE i {" ".join(f"WHEN {i} THEN {_bloom_pos_sql(i, 'key')}" for i in range(_BLOOM_K))} END AS pos
  FROM build, (SELECT UNNEST(generate_series(0, {_BLOOM_K - 1})) AS i)
),
probe AS (
  SELECT s_suppkey AS key, 1 AS expected FROM supplier
  UNION ALL
  SELECT s_suppkey + 1000000, 0 FROM supplier
),
probe_pos AS (
  SELECT p.key, p.expected,
         CASE d.i {" ".join(f"WHEN {i} THEN {_bloom_pos_sql(i, 'p.key')}" for i in range(_BLOOM_K))} END AS pos
  FROM probe p, (SELECT UNNEST(generate_series(0, {_BLOOM_K - 1})) AS i) d
),
checked AS (
  SELECT pp.key, pp.expected,
         MIN(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS maybe
  FROM probe_pos pp
  LEFT JOIN bits b ON b.pos = pp.pos
  GROUP BY pp.key, pp.expected
),
truth AS (
  SELECT c.key, c.expected, c.maybe,
         CASE WHEN bld.key IS NOT NULL THEN 1 ELSE 0 END AS actual
  FROM checked c LEFT JOIN build bld ON bld.key = c.key
)
SELECT COUNT(*) AS n_probes,
       CAST(SUM(actual) AS BIGINT) AS n_members,
       CAST(SUM(maybe) AS BIGINT) AS n_bloom_positive,
       CAST(SUM(CASE WHEN maybe = 1 AND actual = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positive,
       CAST(SUM(CASE WHEN maybe = 0 AND actual = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_negative,
       (SELECT COUNT(*) FROM bits) AS n_bits_set
FROM truth
"""


@query("agg_bloom_filter", oracle=_BLOOM_SQL)
def agg_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter as pure relational algebra — the membership twin of
    agg_countmin_sketch, with the filter ITSELF oracle-checked: the
    build side's keys set 3 md5-derived bits of a
    1024-bit space (the bit TABLE is a distinct-aggregate), and a
    probe key is 'maybe present' iff ALL its bits are set. The audit
    row proves the structural guarantees: n_false_negative MUST be 0
    (membership bits can't unset), n_false_positive is the measured
    collision cost of half the probes being absent keys.

    This is join_bloom_runtime's engine-internal structure opened up as
    dataflow: mergeable (bit tables union), broadcastable (≤ m rows),
    and buildable in one partial-aggregated pass — at 100 TB the bit
    table replaces a full distinct-key shuffle wherever a probabilistic
    semi-join reduction is acceptable."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")

    def pos(i, key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"b{i}:"), key_col.cast("string"))), 1, 8
                ),
                16, 10,
            ).cast("long") % _BLOOM_M
        )

    build = li.select(F.col("l_suppkey").alias("key")).distinct()
    bits = (
        build.select(
            F.explode(F.array(*[pos(i, F.col("key")) for i in range(_BLOOM_K)]))
            .alias("pos")
        )
        .distinct()
    )
    probe = sup.select(F.col("s_suppkey").alias("key"), F.lit(1).alias("expected")).unionAll(
        sup.select((F.col("s_suppkey") + 1_000_000).alias("key"), F.lit(0).alias("expected"))
    )
    probed = probe.select(
        "key",
        "expected",
        F.posexplode(
            F.array(*[pos(i, F.col("key")) for i in range(_BLOOM_K)])
        ).alias("i", "pos"),
    )
    checked = (
        probed.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("key", "expected")
        .agg(F.min(F.coalesce("hit", F.lit(0))).alias("maybe"))
    )
    truth = checked.join(
        F.broadcast(build.withColumn("actual", F.lit(1))), "key", "left"
    ).withColumn("actual", F.coalesce("actual", F.lit(0)))
    summary = truth.agg(
        F.count("*").alias("n_probes"),
        F.sum("actual").cast("long").alias("n_members"),
        F.sum("maybe").cast("long").alias("n_bloom_positive"),
        F.sum(((F.col("maybe") == 1) & (F.col("actual") == 0)).cast("int"))
        .cast("long")
        .alias("n_false_positive"),
        F.sum(((F.col("maybe") == 0) & (F.col("actual") == 1)).cast("int"))
        .cast("long")
        .alias("n_false_negative"),
    )
    # fill factor rides along as a 1-row joined aggregate — no driver
    # round-trip in the query path
    return summary.join(
        F.broadcast(bits.agg(F.count("*").cast("long").alias("n_bits_set")))
    )


_Q3_SQL = f"""
SELECT l.l_orderkey,
       {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
       CAST(o.o_orderdate AS DATE) AS order_date,
       o.o_orderpriority AS priority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


@query("sql_shipping_priority", oracle=_Q3_SQL)
def sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): top-10 unshipped-revenue
    orders for one segment, same ANSI text on both engines. The shape
    exercises the full mid-query pipeline at once — two fact joins,
    filters on BOTH join sides pushed to their scans, a post-join
    aggregation, and a top-k that plans as TakeOrderedAndProject
    (per-partition heaps, never a full sort). Revenue accumulates in
    DECIMAL then casts (registry rule), so the rank boundary at row 10
    is exact and the l_orderkey tiebreak makes the cut engine-portable.
    sql_star_join (Q5) covers the snowflake reduction; this adds the
    selective-filter + top-k pattern the reference's 'latest prices for
    one commodity' report maps onto."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q3_SQL)


_HLLR_M = 64  # registers
_HLLR_W = 42  # rank-field width: 48-bit md5 slice minus 6 bucket bits
_HLLR_ALPHA = 0.709  # alpha_m for m=64 (0.7213 / (1 + 1.079/m))


_HLLR_SQL = f"""
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substring(md5('h:' || CAST(user_id AS VARCHAR)), 1, 12))
              AS BIGINT) AS hv
  FROM events
),
ranks AS (
  SELECT event_type, hv % {_HLLR_M} AS reg,
         MAX(CASE WHEN hv // {_HLLR_M} = 0 THEN {_HLLR_W + 1}
                  ELSE {_HLLR_W + 1} - length(to_base(hv // {_HLLR_M}, 2))
             END) AS rank
  FROM h GROUP BY 1, 2
),
grid AS (
  SELECT et.event_type, g.reg
  FROM (SELECT DISTINCT event_type FROM events) et,
       (SELECT UNNEST(generate_series(0, {_HLLR_M - 1})) AS reg) g
),
regs AS (
  SELECT g.event_type, g.reg, COALESCE(r.rank, 0) AS rank
  FROM grid g LEFT JOIN ranks r
    ON r.event_type = g.event_type AND r.reg = g.reg
),
est AS (
  SELECT event_type,
         {_HLLR_ALPHA} * {_HLLR_M} * {_HLLR_M}
             / SUM(POWER(2.0, -rank)) AS raw,
         SUM(CASE WHEN rank = 0 THEN 1 ELSE 0 END) AS v_zero
  FROM regs GROUP BY event_type
),
corrected AS (
  SELECT event_type,
         ROUND(CASE WHEN raw <= 2.5 * {_HLLR_M} AND v_zero > 0
                    THEN {_HLLR_M} * ln(CAST({_HLLR_M} AS DOUBLE) / v_zero)
                    ELSE raw END, 4) AS hll_estimate
  FROM est
)
SELECT e.event_type, e.hll_estimate, x.exact_distinct
FROM corrected e
JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY 1) x USING (event_type)
"""


@query("agg_hll_relational", oracle=_HLLR_SQL)
def agg_hll_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog as pure relational algebra — completing the sketch
    trio (count-min = frequency, Bloom = membership, HLL = cardinality)
    with the registers themselves oracle-checked, unlike the built-in
    `agg_hll_merge` whose DataSketches binary is engine-internal. Each
    user hashes to one of 64 registers (low 6 bits of a 48-bit
    md5 slice); the register keeps the MAX leading-zero rank of the
    remaining 42 bits (bit length via the base-2 string — float
    log2 is not correctly rounded at power-of-two boundaries and
    differs across libms, CLAUDE.md's determinism discipline applied to
    bit twiddling); the estimate is the harmonic-mean formula over all
    registers, empty ones contributing rank 0. ROUND(4) absorbs the
    64-term float fold order.

    The register table is the mergeable state: MAX per (group, reg)
    commutes with sharding/days exactly like incr_agg_merge's partial
    sums — at 100 TB the groupBy carries ≤ 64 rows per group
    through the shuffle regardless of user cardinality, and the exact
    count rides alongside as the audit (its expand+shuffle is the cost
    the sketch deletes)."""
    ev = load(spark, sf_dir, "events")
    hv = F.conv(
        F.substring(F.md5(F.concat(F.lit("h:"), F.col("user_id").cast("string"))), 1, 12),
        16, 10,
    ).cast("long")
    h = ev.select("event_type", hv.alias("hv")).distinct()
    w = F.expr(f"hv div {_HLLR_M}")
    rank = F.when(w == 0, F.lit(_HLLR_W + 1)).otherwise(
        F.lit(_HLLR_W + 1) - F.length(F.conv(w, 10, 2))
    )
    ranks = (
        h.select("event_type", (F.col("hv") % _HLLR_M).alias("reg"), rank.alias("rank"))
        .groupBy("event_type", "reg")
        .agg(F.max("rank").alias("rank"))
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .join(spark.range(_HLLR_M).select(F.col("id").alias("reg")))
    )
    regs = grid.join(ranks, ["event_type", "reg"], "left").select(
        "event_type", F.coalesce("rank", F.lit(0)).alias("rank")
    )
    raw_est = regs.groupBy("event_type").agg(
        (
            F.lit(_HLLR_ALPHA * _HLLR_M * _HLLR_M)
            / F.sum(F.pow(F.lit(2.0), -F.col("rank")))
        ).alias("raw"),
        F.sum((F.col("rank") == 0).cast("int")).alias("v_zero"),
    )
    # HLL small-range correction: with n ≪ m the harmonic estimator is
    # biased high; when raw ≤ 2.5m and empty registers remain, linear
    # counting over the zero-register count is the standard estimator.
    est = raw_est.select(
        "event_type",
        F.round(
            F.when(
                (F.col("raw") <= 2.5 * _HLLR_M) & (F.col("v_zero") > 0),
                F.lit(_HLLR_M) * F.log(F.lit(float(_HLLR_M)) / F.col("v_zero")),
            ).otherwise(F.col("raw")),
            4,
        ).alias("hll_estimate"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type")


_CMSM_SQL = f"""
WITH rows_h AS (
  SELECT CAST(ts AS DATE) AS d, user_id, i,
         CASE i {" ".join(f"WHEN {i} THEN {_cms_bucket_sql(i, 'user_id')}" for i in range(_CMS_DEPTH))} END AS bucket
  FROM events, (SELECT UNNEST(generate_series(0, {_CMS_DEPTH - 1})) AS i)
),
daily AS (
  SELECT d, i, bucket, COUNT(*) AS c FROM rows_h GROUP BY d, i, bucket
),
merged AS (
  SELECT i, bucket, CAST(SUM(c) AS BIGINT) AS c FROM daily GROUP BY i, bucket
),
direct AS (
  SELECT i, bucket, COUNT(*) AS c FROM rows_h GROUP BY i, bucket
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CASE WHEN m.c = dc.c THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cells_equal,
       CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_daily_cells,
       CAST((SELECT COUNT(DISTINCT d) FROM daily) AS BIGINT) AS n_days
FROM merged m
JOIN direct dc ON dc.i = m.i AND dc.bucket = m.bucket
"""


@query("incr_cms_merge", oracle=_CMSM_SQL)
def incr_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min MERGE property proven in-query (incr_agg_merge's
    rollup-maintenance argument applied to sketches): per-day sketches
    are built independently, merged by CELL-WISE ADDITION, and the
    merged counter table must equal the directly-built whole-corpus
    sketch cell for cell — the audit row carries total cells, equal
    cells (must match), daily-cell volume, and day count. This equality
    is exactly what makes the sketch incrementally maintainable at
    100 TB: each ingest batch contributes its own (depth × width)
    table, the stored rollup is a SUM per cell, and no historical data
    is ever rescanned."""
    ev = load(spark, sf_dir, "events")

    def bucket(i, key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), key_col.cast("string"))), 1, 8
                ),
                16, 10,
            ).cast("long") % _CMS_WIDTH
        )

    rows_h = ev.select(
        F.col("ts").cast("date").alias("d"),
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("i"),
                         bucket(i, F.col("user_id")).alias("bucket"))
                for i in range(_CMS_DEPTH)
            ])
        ).alias("h"),
    ).select("d", "h.i", "h.bucket")
    daily = rows_h.groupBy("d", "i", "bucket").agg(F.count("*").alias("c"))
    daily = pin(daily)  # feeds three aggregates
    merged = daily.groupBy("i", "bucket").agg(F.sum("c").alias("mc"))
    direct = rows_h.groupBy("i", "bucket").agg(F.count("*").alias("dc"))
    cmp = merged.join(direct, ["i", "bucket"]).agg(
        F.count("*").alias("n_cells"),
        F.sum((F.col("mc") == F.col("dc")).cast("int"))
        .cast("long")
        .alias("n_cells_equal"),
    )
    stats = daily.agg(
        F.count("*").alias("n_daily_cells"),
        F.count_distinct("d").alias("n_days"),
    )
    return cmp.join(F.broadcast(stats))


# ---------------------------------------------------------------------------
# HLL set algebra: union by register merge, intersection by
# inclusion-exclusion

_HLLI_Y1, _HLLI_Y2 = 1995, 1996


def _hlli_est_sql(src: str) -> str:
    """Estimator over a (s, reg, rank) register table named `src` —
    harmonic mean + linear-counting small-range correction, the
    _HLLR_SQL formula parameterized by source."""
    return f"""
  SELECT s,
         CASE WHEN raw <= 2.5 * {_HLLR_M} AND v_zero > 0
              THEN {_HLLR_M} * ln(CAST({_HLLR_M} AS DOUBLE) / v_zero)
              ELSE raw END AS est
  FROM (
    SELECT s, {_HLLR_ALPHA} * {_HLLR_M} * {_HLLR_M}
               / SUM(POWER(2.0, -rank)) AS raw,
           SUM(CASE WHEN rank = 0 THEN 1 ELSE 0 END) AS v_zero
    FROM {src} GROUP BY s)
"""


@query(
    "agg_hll_intersect",
    oracle=f"""
WITH tagged AS (
  SELECT CASE WHEN year(o_orderdate) = {_HLLI_Y1} THEN 'a' ELSE 'b' END AS s,
         o_custkey
  FROM orders
  WHERE year(o_orderdate) IN ({_HLLI_Y1}, {_HLLI_Y2})),
h AS (
  SELECT DISTINCT s,
         CAST(('0x' || substring(md5('h:' || CAST(o_custkey AS VARCHAR)), 1, 12))
              AS BIGINT) AS hv
  FROM tagged),
ranks AS (
  SELECT s, hv % {_HLLR_M} AS reg,
         MAX(CASE WHEN hv // {_HLLR_M} = 0 THEN {_HLLR_W + 1}
                  ELSE {_HLLR_W + 1} - length(to_base(hv // {_HLLR_M}, 2))
             END) AS rank
  FROM h GROUP BY 1, 2),
uranks AS (
  SELECT 'u' AS s, reg, MAX(rank) AS rank FROM ranks GROUP BY 2),
grid AS (
  SELECT sv.s, g.reg
  FROM (SELECT UNNEST(['a', 'b', 'u']) AS s) sv,
       (SELECT UNNEST(generate_series(0, {_HLLR_M - 1})) AS reg) g),
regs AS (
  SELECT g.s, g.reg, COALESCE(r.rank, 0) AS rank
  FROM grid g
  LEFT JOIN (SELECT * FROM ranks UNION ALL SELECT * FROM uranks) r
    ON r.s = g.s AND r.reg = g.reg),
est AS ({_hlli_est_sql('regs')}),
lat AS (
  SELECT s, CAST(ROUND(est * 1e4) AS BIGINT) AS el FROM est),
flags AS (
  SELECT o_custkey,
         MAX(CASE WHEN s = 'a' THEN 1 ELSE 0 END) AS fa,
         MAX(CASE WHEN s = 'b' THEN 1 ELSE 0 END) AS fb
  FROM tagged GROUP BY 1),
ex AS (
  SELECT CAST(SUM(fa) AS BIGINT) AS exact_a,
         CAST(SUM(fb) AS BIGINT) AS exact_b,
         CAST(COUNT(*) AS BIGINT) AS exact_union,
         CAST(SUM(fa * fb) AS BIGINT) AS exact_intersect
  FROM flags)
SELECT CAST(a.el AS DOUBLE) / 1e4 AS est_a,
       CAST(b.el AS DOUBLE) / 1e4 AS est_b,
       CAST(u.el AS DOUBLE) / 1e4 AS est_union,
       CAST(a.el + b.el - u.el AS DOUBLE) / 1e4 AS est_intersect,
       ex.exact_a, ex.exact_b, ex.exact_union, ex.exact_intersect
FROM (SELECT el FROM lat WHERE s = 'a') a,
     (SELECT el FROM lat WHERE s = 'b') b,
     (SELECT el FROM lat WHERE s = 'u') u, ex
""",
)
def agg_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL SET ALGEBRA — the operations that make sketches composable
    at 100 TB: the UNION of two sets' sketches is the register-wise
    MAX of their register tables (never re-hashing the data — exactly
    how per-shard/per-day sketches roll up), and the INTERSECTION is
    estimated by inclusion-exclusion est(A)+est(B)−est(A∪B) (sketches
    cannot intersect directly; this is the standard estimator and its
    error grows as the intersection shrinks — the exact audit
    quantifies it). Sets: repeat customers across two order years.
    All three estimates ride one 64-register table per set on
    an integer lattice (ROUND(est·1e4) BIGINT) so the
    inclusion-exclusion arithmetic is exact integer math on both
    engines.

    Scale: per-set state is ≤ 64 rows regardless of customer
    cardinality; the exact flags audit pays the full distinct shuffle
    the sketch path deletes."""
    o = load(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    tagged = o.filter(yr.isin(_HLLI_Y1, _HLLI_Y2)).select(
        F.when(yr == _HLLI_Y1, "a").otherwise("b").alias("s"),
        "o_custkey",
    )
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("h:"), F.col("o_custkey").cast("string"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    h = tagged.select("s", hv.alias("hv")).distinct()
    w = F.expr(f"hv div {_HLLR_M}")
    rank = F.when(w == 0, F.lit(_HLLR_W + 1)).otherwise(
        F.lit(_HLLR_W + 1) - F.length(F.conv(w, 10, 2))
    )
    ranks = (
        h.select("s", (F.col("hv") % _HLLR_M).alias("reg"), rank.alias("rank"))
        .groupBy("s", "reg")
        .agg(F.max("rank").alias("rank"))
    )
    uranks = ranks.groupBy("reg").agg(F.max("rank").alias("rank")).select(
        F.lit("u").alias("s"), "reg", "rank"
    )
    allranks = ranks.unionByName(uranks)
    grid = (
        spark.range(_HLLR_M)
        .select(F.col("id").alias("reg"))
        .join(
            spark.createDataFrame([("a",), ("b",), ("u",)], ["s"]),
        )
    )
    regs = grid.join(allranks, ["s", "reg"], "left").select(
        "s", F.coalesce("rank", F.lit(0)).alias("rank")
    )
    raw_est = regs.groupBy("s").agg(
        (
            F.lit(_HLLR_ALPHA * _HLLR_M * _HLLR_M)
            / F.sum(F.pow(F.lit(2.0), -F.col("rank")))
        ).alias("raw"),
        F.sum((F.col("rank") == 0).cast("int")).alias("v_zero"),
    )
    est = raw_est.select(
        "s",
        F.round(
            F.when(
                (F.col("raw") <= 2.5 * _HLLR_M) & (F.col("v_zero") > 0),
                F.lit(_HLLR_M)
                * F.log(F.lit(float(_HLLR_M)) / F.col("v_zero")),
            ).otherwise(F.col("raw"))
            * 1e4
        )
        .cast("long")
        .alias("el"),
    )
    lat = est.groupBy().agg(
        F.max(F.when(F.col("s") == "a", F.col("el"))).alias("la"),
        F.max(F.when(F.col("s") == "b", F.col("el"))).alias("lb"),
        F.max(F.when(F.col("s") == "u", F.col("el"))).alias("lu"),
    )
    flags = tagged.groupBy("o_custkey").agg(
        F.max((F.col("s") == "a").cast("int")).alias("fa"),
        F.max((F.col("s") == "b").cast("int")).alias("fb"),
    )
    ex = flags.agg(
        F.sum("fa").cast("long").alias("exact_a"),
        F.sum("fb").cast("long").alias("exact_b"),
        F.count("*").cast("long").alias("exact_union"),
        F.sum(F.col("fa") * F.col("fb")).cast("long").alias("exact_intersect"),
    )
    return lat.join(F.broadcast(ex)).select(
        (F.col("la").cast("double") / 1e4).alias("est_a"),
        (F.col("lb").cast("double") / 1e4).alias("est_b"),
        (F.col("lu").cast("double") / 1e4).alias("est_union"),
        ((F.col("la") + F.col("lb") - F.col("lu")).cast("double") / 1e4).alias(
            "est_intersect"
        ),
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_intersect",
    )


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance (delta-join algebra)

_IJM_MOD = 10  # delta = key % _IJM_MOD == _IJM_REM (~10% "new arrivals")
_IJM_REM = 7


@query(
    "incr_join_maintain",
    oracle=f"""
SELECT o.o_orderpriority AS prio,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {sql_dsum('l.l_extendedprice')} AS sum_price
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1
""",
)
def incr_join_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized JOIN view — the delta
    algebra Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB, which is how a
    1000-executor warehouse keeps an orders⋈lineitem view current
    without re-joining 100 TB per refresh (incr_agg_merge's
    snapshot⊕delta≡full certificate, extended from aggregates to
    joins). Both tables split into old/Δ on key % 10 == 7; the
    maintained result = stored view + the three delta terms, and the
    oracle is the FULL re-join — any double-count or dropped term in
    the decomposition hash-mismatches, so the algebra itself is what
    the gate certifies.

    Scale shape: each delta term joins a ~10% slice against a full
    side (or slice×slice); with both tables bucketed on the join key
    the three terms are shuffle-free probes, and the stored view is
    read, not recomputed — per-refresh cost ∝ |Δ|, never ∝ |view|.
    The aggregate on top is partial-aggable and merges with the stored
    rollup per incr_agg_merge."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    is_do = F.col("o_orderkey") % _IJM_MOD == _IJM_REM
    is_dl = F.col("l_orderkey") % _IJM_MOD == _IJM_REM
    o_old, o_new = o.filter(~is_do), o.filter(is_do)
    l_old, l_new = li.filter(~is_dl), li.filter(is_dl)

    def term(a, b):
        return a.join(b, a.o_orderkey == b.l_orderkey).select(
            "o_orderpriority", "l_extendedprice"
        )

    # stored view (recomputed here — read from the store in prod) plus
    # the three delta terms; disjoint by construction of the split
    maintained = (
        term(o_old, l_old)
        .unionByName(term(o_new, l_old))
        .unionByName(term(o_old, l_new))
        .unionByName(term(o_new, l_new))
    )
    return maintained.groupBy(
        F.col("o_orderpriority").alias("prio")
    ).agg(
        F.count("*").cast("long").alias("n_lines"),
        dsum("l_extendedprice").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Join-size estimation via sketch inner product (the optimizer statistic)

_JSZ_DEPTH = 4
_JSZ_WIDTH = 1024


def _jsz_bucket_sql(i: int, key: str) -> str:
    return (
        f"CAST(('0x' || substring(md5('{i}:' || CAST({key} AS VARCHAR)), 1, 8))"
        f" AS BIGINT) % {_JSZ_WIDTH}"
    )


_JSZ_SQL = f"""
WITH ah AS (
  SELECT i,
         CASE i {" ".join(f"WHEN {i} THEN {_jsz_bucket_sql(i, 'user_id')}" for i in range(_JSZ_DEPTH))} END AS bucket,
         COUNT(*) AS c
  FROM events, (SELECT UNNEST(generate_series(0, {_JSZ_DEPTH - 1})) AS i)
  GROUP BY 1, 2),
bh AS (
  SELECT i,
         CASE i {" ".join(f"WHEN {i} THEN {_jsz_bucket_sql(i, 'o_custkey')}" for i in range(_JSZ_DEPTH))} END AS bucket,
         COUNT(*) AS c
  FROM orders, (SELECT UNNEST(generate_series(0, {_JSZ_DEPTH - 1})) AS i)
  GROUP BY 1, 2),
dots AS (
  SELECT ah.i, SUM(ah.c * bh.c) AS dot
  FROM ah JOIN bh ON ah.i = bh.i AND ah.bucket = bh.bucket
  GROUP BY ah.i),
est AS (SELECT MIN(dot) AS est_size FROM dots),
ex AS (SELECT COUNT(*) AS exact_size
       FROM events e JOIN orders o ON e.user_id = o.o_custkey)
SELECT CAST(exact_size AS BIGINT) AS exact_size,
       CAST(est_size AS BIGINT) AS est_size,
       CAST(est_size - exact_size AS BIGINT) AS overcount
FROM ex, est
"""


@query("agg_join_size_sketch", oracle=_JSZ_SQL)
def agg_join_size_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|A ⋈ B| WITHOUT running the join: count-min sketch each side's
    join key, estimate the output cardinality as the min over rows of
    the sketch inner product  Σ_b cmsA[i][b]·cmsB[i][b]  (the AMS/CMS
    join-size estimator query optimizers use to pick join order and
    strategy before touching the data). Distinct from
    agg_countmin_sketch, which probes ONE sketch for per-key
    frequencies — here two sketches multiply cell-wise, and the answer
    is a single cardinality. The estimate can only OVERcount (each
    inner product contains every true f_A(k)·f_B(k) term plus
    non-negative collision cross-terms), so `overcount ≥ 0` is the
    audit invariant; the exact join count rides along as the
    oracle-checkable truth column (in production you emit est only —
    computing the exact size is the very cost the sketch avoids).

    Scale: each sketch is ONE partial-aggregated scan reduced to
    4×1024 counters (KBs regardless of row count or
    key cardinality), mergeable across shards/days by cell-wise add
    like every CMS; the inner product is a broadcast join of two
    KB-sized tables. Estimating a 100 TB join costs two column scans
    and no shuffle of the data itself."""
    ev = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")

    def bucket(i, key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), key_col.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % _JSZ_WIDTH
        )

    def sketch(df, key: str):
        return (
            df.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(i).alias("i"),
                                bucket(i, F.col(key)).alias("bucket"),
                            )
                            for i in range(_JSZ_DEPTH)
                        ]
                    )
                ).alias("h")
            )
            .groupBy(F.col("h.i").alias("i"), F.col("h.bucket").alias("bucket"))
            .agg(F.count("*").alias("c"))
        )

    a = sketch(ev, "user_id")
    b = sketch(o, "o_custkey").select(
        F.col("i").alias("bi"), F.col("bucket").alias("bb"), F.col("c").alias("bc")
    )
    est = (
        a.join(
            F.broadcast(b),
            (F.col("i") == F.col("bi")) & (F.col("bucket") == F.col("bb")),
        )
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("bc")).alias("dot"))
        .agg(F.min("dot").alias("est_size"))
    )
    exact = ev.join(o, ev.user_id == o.o_custkey).agg(
        F.count("*").alias("exact_size")
    )
    return exact.join(F.broadcast(est)).select(
        F.col("exact_size").cast("long").alias("exact_size"),
        F.col("est_size").cast("long").alias("est_size"),
        (F.col("est_size") - F.col("exact_size")).cast("long").alias("overcount"),
    )


# ---------------------------------------------------------------------------
# Mergeable MinHash signatures: shard-min merge == direct, plus the
# signature-estimated vs exact source Jaccard

_MHM_H = 16      # signature components
_MHM_SHARDS = 8  # ingest shards the merge property is proven over
# ONE md5 per shingle; the 16-hash family is 16 linear permutations of
# that value (the _minhash_bands cost discipline — r10: the per-i md5
# form paid 16 md5s/shingle, ~2.2 s of the query's own 5 s)
_MHM_P = 2_147_483_647
_MHM_A = (7, 13, 31, 61, 127, 251, 509, 1021,
          2039, 4093, 8191, 16381, 32749, 65521, 131071, 262139)
_MHM_B = (3, 17, 29, 47, 71, 89, 101, 131,
          149, 173, 191, 211, 223, 227, 229, 233)


_MHM_SQL = f"""
WITH x AS (
  SELECT source, doc_id, string_split(text, ' ') AS a FROM documents
),
sh AS (
  SELECT DISTINCT source, doc_id % {_MHM_SHARDS} AS shard,
         a[i] || '|' || a[i + 1] || '|' || a[i + 2] AS s
  FROM x, LATERAL (SELECT UNNEST(generate_series(1, len(a) - 2)) AS i) g(i)
  WHERE len(a) >= 3
),
ab (i, a, b) AS (VALUES (0, 7, 3), (1, 13, 17), (2, 31, 29), (3, 61, 47), (4, 127, 71), (5, 251, 89), (6, 509, 101), (7, 1021, 131), (8, 2039, 149), (9, 4093, 173), (10, 8191, 191), (11, 16381, 211), (12, 32749, 223), (13, 65521, 227), (14, 131071, 229), (15, 262139, 233)),
hs AS (
  SELECT source, shard, ab.i,
         (ab.a * CAST('0x' || substring(md5(s), 1, 8) AS BIGINT) + ab.b)
           % {_MHM_P} AS h
  FROM sh CROSS JOIN ab
),
pshard AS (
  SELECT source, shard, i, MIN(h) AS mn FROM hs GROUP BY 1, 2, 3
),
merged AS (SELECT source, i, MIN(mn) AS sig FROM pshard GROUP BY 1, 2),
direct AS (SELECT source, i, MIN(h) AS sig FROM hs GROUP BY 1, 2),
eq AS (
  SELECT m.source,
         CAST(SUM(CASE WHEN m.sig = d.sig THEN 1 ELSE 0 END) AS BIGINT)
           AS n_eq
  FROM merged m JOIN direct d ON d.source = m.source AND d.i = m.i
  GROUP BY 1
),
sets AS (SELECT DISTINCT source, s FROM sh),
cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sets GROUP BY 1),
inter AS (
  SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS ni
  FROM sets a JOIN sets b ON b.s = a.s AND b.source > a.source
  GROUP BY 1, 2
),
est AS (
  SELECT a.source AS sa, b.source AS sb,
         CAST(SUM(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS BIGINT)
           AS sig_matches
  FROM merged a JOIN merged b ON b.i = a.i AND b.source > a.source
  GROUP BY 1, 2
)
SELECT e.sa AS source_a, e.sb AS source_b,
       e.sig_matches,
       CAST(e.sig_matches AS DOUBLE) / {_MHM_H} AS jaccard_est,
       CAST(COALESCE(i.ni, 0) AS DOUBLE)
         / CAST(ca.n + cb.n - COALESCE(i.ni, 0) AS DOUBLE) AS jaccard_exact,
       ea.n_eq + eb.n_eq AS merge_components_equal
FROM est e
LEFT JOIN inter i ON i.sa = e.sa AND i.sb = e.sb
JOIN cnt ca ON ca.source = e.sa
JOIN cnt cb ON cb.source = e.sb
JOIN eq ea ON ea.source = e.sa
JOIN eq eb ON eb.source = e.sb
"""


@query("incr_minhash_merge", oracle=_MHM_SQL)
def incr_minhash_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash MERGE property proven in-query (incr_cms_merge's
    argument applied to set sketches): per-ingest-shard signatures —
    component-wise minima of md5-derived hashes over each shard's
    3-word shingle set — merge by component-wise MIN, and the merged
    signature must equal the directly-built whole-corpus signature
    (merge_components_equal carries the count over both sources: must
    be 2x16). min commutes with set union, so each ingest batch
    contributes a 16-component row and the stored signature is a MIN
    per component — no historical rescans, the same delta discipline
    as the CMS/HLL/rollup members of the incr family. The merged
    signatures then DO the sketch's real job: per source pair the
    component-match fraction estimates shingle-set Jaccard, audited
    against the exact |A∩B|/|A∪B| computed relationally alongside
    (dedup_minhash_estimate_eval runs this audit per document PAIR;
    here the unit is the corpus SOURCE and the point is mergeability).

    Determinism: hashes are md5-lattice BIGINTs, minima and counts are
    exact integers, both Jaccards are integer-ratio doubles — bitwise,
    no rounding anywhere.

    Scale: shingling is row-local; signatures partial-aggregate to
    (source, shard, component) grain before any exchange; everything
    downstream is K-row algebra on sources x components.

    r10 cost restructure (VERDICT r9 item 4 — this was the heaviest
    headliner at 11.4 normalized): the shingle-distinct frame is
    materialized ONCE (it fed four plan branches, each re-running the
    explode+distinct), and the 16 hash components ride as WIDE columns
    into 16 parallel MIN aggregates (the _minhash_bands discipline)
    instead of a 16x row explode — the explode shuffled 16x the rows
    through TWO groupBys for the same 16 minima. Only the tiny
    aggregated frames (sources x shards x 16) are unpivoted. Every
    hash value, min, and count is unchanged — same oracle hash."""
    d = load(spark, sf_dir, "documents").select("source", "doc_id", "text")
    x = d.withColumn("a", F.split(F.col("text"), " ")).filter(
        F.size("a") >= 3
    )
    sh = pin(  # feeds hashes, sets, cnt, inter
        x.select(
            "source",
            (F.col("doc_id") % _MHM_SHARDS).alias("shard"),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(a) - 2), k -> "
                    "concat(element_at(a, k), '|', element_at(a, k + 1),"
                    " '|', element_at(a, k + 2)))"
                )
            ).alias("s"),
        )
        .distinct()
    )

    hv = (
        F.conv(F.substring(F.md5(F.col("s")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("hv")
    )

    def _h(i: int):
        return (
            (F.lit(_MHM_A[i]) * F.col("hv") + F.lit(_MHM_B[i])) % _MHM_P
        ).alias(f"h{i}")

    # ONE md5 pass over the distinct shingles; the 16 components are
    # linear permutations of it, as wide columns.
    hw = pin(  # feeds pshard AND direct
        sh.select("source", "shard", hv)
        .select("source", "shard", *[_h(i) for i in range(_MHM_H)])
    )

    def _unpivot(df: DataFrame, keys: list, out: str) -> DataFrame:
        stack = ", ".join(f"{i}, h{i}" for i in range(_MHM_H))
        return df.selectExpr(
            *keys, f"stack({_MHM_H}, {stack}) AS (i, {out})"
        )

    pshard = _unpivot(
        hw.groupBy("source", "shard").agg(
            *[F.min(f"h{i}").alias(f"h{i}") for i in range(_MHM_H)]
        ),
        ["source", "shard"],
        "mn",
    )
    merged = pshard.groupBy("source", "i").agg(F.min("mn").alias("sig"))
    merged = pin(merged)  # feeds eq + both est sides
    direct = _unpivot(
        hw.groupBy("source").agg(
            *[F.min(f"h{i}").alias(f"h{i}") for i in range(_MHM_H)]
        ),
        ["source"],
        "sig",
    )
    eq = (
        merged.alias("m")
        .join(
            direct.alias("dd"),
            (F.col("dd.source") == F.col("m.source"))
            & (F.col("dd.i") == F.col("m.i")),
        )
        .groupBy(F.col("m.source").alias("source"))
        .agg(
            F.sum((F.col("m.sig") == F.col("dd.sig")).cast("int"))
            .cast("bigint")
            .alias("n_eq")
        )
    )
    sets = sh.select("source", "s").distinct()
    cnt = sets.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    inter = (
        sets.alias("a")
        .join(
            sets.alias("b"),
            (F.col("b.s") == F.col("a.s"))
            & (F.col("b.source") > F.col("a.source")),
        )
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(F.count("*").cast("bigint").alias("ni"))
    )
    est = (
        merged.alias("a")
        .join(
            merged.alias("b"),
            (F.col("b.i") == F.col("a.i"))
            & (F.col("b.source") > F.col("a.source")),
        )
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(
            F.sum((F.col("a.sig") == F.col("b.sig")).cast("int"))
            .cast("bigint")
            .alias("sig_matches")
        )
    )
    ni = F.coalesce(F.col("ni"), F.lit(0))
    return (
        est.join(F.broadcast(inter), ["sa", "sb"], "left")
        .join(
            F.broadcast(cnt.select(F.col("source").alias("sa"),
                                   F.col("n").alias("na"))), "sa")
        .join(
            F.broadcast(cnt.select(F.col("source").alias("sb"),
                                   F.col("n").alias("nb"))), "sb")
        .join(
            F.broadcast(eq.select(F.col("source").alias("sa"),
                                  F.col("n_eq").alias("ea"))), "sa")
        .join(
            F.broadcast(eq.select(F.col("source").alias("sb"),
                                  F.col("n_eq").alias("eb"))), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "sig_matches",
            (F.col("sig_matches").cast("double") / F.lit(_MHM_H)).alias(
                "jaccard_est"
            ),
            (
                ni.cast("double")
                / (F.col("na") + F.col("nb") - ni).cast("double")
            ).alias("jaccard_exact"),
            (F.col("ea") + F.col("eb")).alias("merge_components_equal"),
        )
    )


_DECAY_HL_DAYS = 7  # half-life: weight halves every full 7 days of age

_DECAY_SQL = f"""
WITH base AS (
  SELECT event_type AS et,
         epoch_us(ts) // 86400000000 AS day_no,
         CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS lv
  FROM events WHERE value >= 0
),
tip AS (SELECT MAX(day_no) AS max_day FROM base),
w AS (
  SELECT et, lv,
         LEAST((tip.max_day - base.day_no) // {_DECAY_HL_DAYS}, 62) AS k
  FROM base CROSS JOIN tip
)
SELECT et AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(lv // (CAST(1 AS BIGINT) << k)) AS DOUBLE) / 1e6
         AS decayed_sum,
       CAST(SUM(1000000 // (CAST(1 AS BIGINT) << k)) AS DOUBLE) / 1e6
         AS decayed_weight,
       CAST(SUM(lv // (CAST(1 AS BIGINT) << k)) AS DOUBLE)
         / CAST(SUM(1000000 // (CAST(1 AS BIGINT) << k)) AS DOUBLE)
         AS decayed_avg
FROM w GROUP BY et
"""


@query("agg_time_decay", oracle=_DECAY_SQL)
def agg_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed aggregates per series — the
    feature-store primitive behind "recent activity" features (a
    7-day-half-life decayed sum forgets the past smoothly where a
    tumbling window forgets it in cliffs; ts_ewma smooths a DAILY
    series sequentially, this decays RAW rows against the table tip in
    one pass, no recursion). Weight = 2^-k with k = age_days div
    {_DECAY_HL_DAYS} — half-life steps chosen so every weight is an
    exact binary fraction, never a transcendental.

    Determinism: each row's decayed contribution is lv div 2^k on the
    1e-6 BIGINT lattice (2^k via integer shift, k capped at 62 — a
    row 62 half-lives old contributes 0 anyway); the per-row floor
    makes every term an exact integer, so sums are order-independent
    BIGINTs and decayed_avg is an unrounded integer-ratio double. The
    value >= 0 filter is the contract that keeps div == floor (Spark
    `div` truncates toward zero, `//` floors — they only agree above
    zero, the pagerank caveat).

    Scale: one scan, one 1-row tip frame (broadcast — plan_audit
    NESTED_LOOP_OK), one event_type-keyed partial agg. The tip join
    is what makes this incremental-friendly: re-running at a new tip
    just re-scales k, and a stored Σ lv·2^(day_no/hl) form would
    overflow — the div-at-read form is the scale-safe one."""
    ev = load(spark, sf_dir, "events")
    base = ev.filter(F.col("value") >= 0).select(
        F.col("event_type").alias("et"),
        F.expr("unix_micros(ts) div 86400000000").alias("day_no"),
        F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint").alias("lv"),
    )
    tip = base.agg(F.max("day_no").alias("max_day"))
    w = base.crossJoin(F.broadcast(tip)).select(
        "et",
        "lv",
        F.least(
            F.expr(f"(max_day - day_no) div {_DECAY_HL_DAYS}"), F.lit(62)
        ).alias("k"),
    )
    term = F.expr("lv div shiftleft(cast(1 as bigint), cast(k as int))")
    unit = F.expr("1000000 div shiftleft(cast(1 as bigint), cast(k as int))")
    return w.groupBy(F.col("et").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum(term).cast("double") / 1e6).alias("decayed_sum"),
        (F.sum(unit).cast("double") / 1e6).alias("decayed_weight"),
        (F.sum(term).cast("double") / F.sum(unit).cast("double")).alias(
            "decayed_avg"
        ),
    )


_BFM_SHARDS = 4

_BFM_SQL = f"""
WITH src AS (
  SELECT DISTINCT l_orderkey % {_BFM_SHARDS} AS shard, l_suppkey AS key
  FROM lineitem
),
sb AS (
  SELECT DISTINCT shard,
         CASE i {" ".join(f"WHEN {i} THEN {_bloom_pos_sql(i, 'key')}" for i in range(_BLOOM_K))} END AS pos
  FROM src, (SELECT UNNEST(generate_series(0, {_BLOOM_K - 1})) AS i)
),
direct AS (
  SELECT DISTINCT
         CASE i {" ".join(f"WHEN {i} THEN {_bloom_pos_sql(i, 'key')}" for i in range(_BLOOM_K))} END AS pos
  FROM (SELECT DISTINCT key FROM src),
       (SELECT UNNEST(generate_series(0, {_BLOOM_K - 1})) AS i)
),
merged AS (SELECT DISTINCT pos FROM sb),
diff AS (
  SELECT COUNT(*) AS d FROM (
    (SELECT pos FROM merged EXCEPT SELECT pos FROM direct)
    UNION ALL
    (SELECT pos FROM direct EXCEPT SELECT pos FROM merged))
),
cum AS (
  SELECT a.shard, CAST(COUNT(DISTINCT b.pos) AS BIGINT) AS cum_bits
  FROM (SELECT DISTINCT shard FROM sb) a
  JOIN sb b ON b.shard <= a.shard
  GROUP BY 1
),
nk AS (
  SELECT shard, CAST(COUNT(DISTINCT key) AS BIGINT) AS n_keys
  FROM src GROUP BY 1
),
nb AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_bits FROM sb GROUP BY 1)
SELECT nk.shard, nk.n_keys, nb.n_bits, cum.cum_bits,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM direct) AS direct_bits,
       CASE WHEN (SELECT d FROM diff) = 0 THEN 1 ELSE 0 END AS merge_ok
FROM nk JOIN nb ON nb.shard = nk.shard JOIN cum ON cum.shard = nk.shard
"""


@query("incr_bloom_merge", oracle=_BFM_SQL)
def incr_bloom_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-merge proof for the Bloom filter — the MEMBERSHIP member
    that completes the sketch-merge family (incr_minhash_merge proves
    MIN-merge, incr_cms_merge cell-sum, agg_hll_merge register-MAX,
    incr_quantile_merge/topk_merge their own algebras; Bloom's merge
    is bitwise OR, here the DISTINCT union of relational (shard, pos)
    bit rows). Each ingest shard (l_orderkey mod {_BFM_SHARDS}) builds
    its own filter over its supplier keys; the query proves in-query
    that the OR of the shard filters equals the filter built
    monolithically (symmetric difference EMPTY — merge_ok), and emits
    the cumulative-bits saturation curve an incremental ingest would
    observe shard by shard (cum_bits at the last shard == direct_bits).

    This algebra is what makes a 100 TB Bloom build embarrassingly
    parallel: shards build independently, bits OR at reduce — no
    global distinct-key shuffle — and the SAME union maintains the
    filter incrementally as new shards arrive.

    Determinism: bit positions are md5-lattice integers (the
    cross-engine hash); everything else is exact set cardinality
    counting — zero rounding anywhere.

    Scale: the bit tables are bounded by {_BFM_SHARDS}·{_BLOOM_M} rows
    regardless of fact cardinality; the shard<=shard cumulative join
    and the 1-row direct/diff frames are constant-size (broadcast —
    NESTED_LOOP_OK); only the per-shard distinct-key pass touches the
    facts, once, with map-side partial aggregation."""
    li = load(spark, sf_dir, "lineitem")

    def pos(i: int, key):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"b{i}:"), key.cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _BLOOM_M
        )

    src = li.select(
        (F.col("l_orderkey") % _BFM_SHARDS).alias("shard"),
        F.col("l_suppkey").alias("key"),
    ).distinct()
    sb = src.select(
        "shard",
        F.explode(
            F.array(*[pos(i, F.col("key")) for i in range(_BLOOM_K)])
        ).alias("pos"),
    ).distinct()
    direct = (
        src.select("key")
        .distinct()
        .select(
            F.explode(
                F.array(*[pos(i, F.col("key")) for i in range(_BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )
    merged = sb.select("pos").distinct()
    diff_cnt = (
        merged.exceptAll(direct)
        .unionAll(direct.exceptAll(merged))
        .agg(F.count("*").alias("d"))
    )
    shards = sb.select("shard").distinct()
    cum = (
        shards.alias("a")
        .join(sb.alias("b"), F.col("b.shard") <= F.col("a.shard"))
        .groupBy(F.col("a.shard").alias("shard"))
        .agg(F.countDistinct("pos").cast("bigint").alias("cum_bits"))
    )
    nk = src.groupBy("shard").agg(
        F.countDistinct("key").cast("bigint").alias("n_keys")
    )
    nb = sb.groupBy("shard").agg(F.count("*").cast("bigint").alias("n_bits"))
    return (
        nk.join(nb, "shard")
        .join(cum, "shard")
        .crossJoin(
            F.broadcast(direct.agg(F.count("*").cast("bigint").alias("direct_bits")))
        )
        .crossJoin(F.broadcast(diff_cnt))
        .select(
            "shard",
            "n_keys",
            "n_bits",
            "cum_bits",
            "direct_bits",
            F.when(F.col("d") == 0, 1).otherwise(0).alias("merge_ok"),
        )
    )


# KMV (theta) sketch: union / intersection / DIFFERENCE estimation

_KMV_K = 256
_KMV_DOM = 1 << 48  # 12 hex digits of md5 → uniform [0, 2^48)


def _kmv_h(col: str) -> str:
    """48-bit uniform hash of a BIGINT key (Spark SQL form)."""
    return (
        "CAST(conv(substring(md5(concat('kmv:', CAST("
        + col
        + " AS STRING))), 1, 12), 16, 10) AS BIGINT)"
    )


def _kmv_h_duck(col: str) -> str:
    """DuckDB twin of _kmv_h."""
    return (
        "CAST('0x' || substring(md5('kmv:' || CAST("
        + col
        + " AS VARCHAR)), 1, 12) AS BIGINT)"
    )


_KMV_SQL = f"""
WITH ca AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS u FROM orders
  WHERE o_orderdate < TIMESTAMP '1998-01-01'
),
cb AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS u FROM orders
  WHERE o_orderdate >= TIMESTAMP '1998-01-01'
),
sa AS MATERIALIZED (
  SELECT u, {_kmv_h_duck('u')} AS h FROM ca
  ORDER BY 2, 1 LIMIT {_KMV_K}
),
sb AS MATERIALIZED (
  SELECT u, {_kmv_h_duck('u')} AS h FROM cb
  ORDER BY 2, 1 LIMIT {_KMV_K}
),
su AS MATERIALIZED (
  SELECT u, h FROM (SELECT DISTINCT u, h FROM (
    SELECT u, h FROM sa UNION ALL SELECT u, h FROM sb))
  ORDER BY 2, 1 LIMIT {_KMV_K}
),
ex AS (
  SELECT (SELECT COUNT(*) FROM ca) AS na,
         (SELECT COUNT(*) FROM cb) AS nb,
         (SELECT COUNT(*) FROM ca JOIN cb ON ca.u = cb.u) AS ni
),
th AS (
  SELECT
    (SELECT COUNT(*) FROM sa) AS ka, (SELECT MAX(h) FROM sa) AS ta,
    (SELECT COUNT(*) FROM sb) AS kb, (SELECT MAX(h) FROM sb) AS tb,
    (SELECT COUNT(*) FROM su) AS ku, (SELECT MAX(h) FROM su) AS tu
),
eff AS (
  SELECT ka, kb, ku,
         CASE WHEN ka < {_KMV_K} THEN {_KMV_DOM} ELSE ta END AS ta,
         CASE WHEN kb < {_KMV_K} THEN {_KMV_DOM} ELSE tb END AS tb,
         CASE WHEN ku < {_KMV_K} THEN {_KMV_DOM} ELSE tu END AS tu
  FROM th
),
tmin AS (
  SELECT ka, kb, ku, ta, tb, tu,
         LEAST(ta, tb) AS tm FROM eff
),
ovl AS (
  SELECT
    (SELECT COUNT(*) FROM sa JOIN sb ON sa.u = sb.u, tmin
     WHERE sa.h < tmin.tm) AS ci,
    (SELECT COUNT(*) FROM sa LEFT JOIN sb ON sa.u = sb.u, tmin
     WHERE sa.h < tmin.tm AND sb.u IS NULL) AS cd
)
SELECT ex.na AS n_a_exact, ex.nb AS n_b_exact,
       ex.na + ex.nb - ex.ni AS union_exact,
       ex.ni AS inter_exact, ex.na - ex.ni AS diff_exact,
       CASE WHEN t.ka < {_KMV_K} THEN CAST(t.ka AS DOUBLE)
            WHEN t.ta > 0 THEN ROUND(CAST(({_KMV_K} - 1) * CAST({_KMV_DOM} AS BIGINT)
                 AS DOUBLE) / t.ta, 4) END AS n_a_est,
       CASE WHEN t.kb < {_KMV_K} THEN CAST(t.kb AS DOUBLE)
            WHEN t.tb > 0 THEN ROUND(CAST(({_KMV_K} - 1) * CAST({_KMV_DOM} AS BIGINT)
                 AS DOUBLE) / t.tb, 4) END AS n_b_est,
       CASE WHEN t.ku < {_KMV_K} THEN CAST(t.ku AS DOUBLE)
            WHEN t.tu > 0 THEN ROUND(CAST(({_KMV_K} - 1) * CAST({_KMV_DOM} AS BIGINT)
                 AS DOUBLE) / t.tu, 4) END AS union_est,
       CASE WHEN t.tm >= {_KMV_DOM} THEN CAST(o.ci AS DOUBLE)
            WHEN t.tm > 0 THEN ROUND(CAST(o.ci AS DOUBLE)
                 * {_KMV_DOM} / t.tm, 4) END AS inter_est,
       CASE WHEN t.tm >= {_KMV_DOM} THEN CAST(o.cd AS DOUBLE)
            WHEN t.tm > 0 THEN ROUND(CAST(o.cd AS DOUBLE)
                 * {_KMV_DOM} / t.tm, 4) END AS diff_est
FROM ex, tmin t, ovl o
"""


@query("agg_theta_kmv", oracle=_KMV_SQL)
def agg_theta_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (theta) sketch over two customer cohorts (pre-/post-1998
    buyers) with union, intersection AND DIFFERENCE estimates — the
    set-algebra member of the sketch family: HLL
    (agg_hll_relational/intersect) unions natively but can only reach
    intersections through inclusion-exclusion (error grows with the
    union), while the K-minimum-values/theta construction keeps the
    ACTUAL K smallest hash samples, so any set expression — including
    A∖B, which HLL cannot express usefully — is estimated by counting
    retained sample members below θ = min(θ_a, θ_b) and scaling by
    D/θ (Beyer et al. / the Apache DataSketches theta contract).
    Exact truth columns ride along as the audit (the agg_hll_relational
    discipline).

    Determinism: h = 48-bit md5 lattice (the cross-engine hash idiom);
    each sketch is ORDER BY (h, key) LIMIT {_KMV_K} — Spark plans
    TakeOrderedAndProject (per-partition heaps, NO global sort; the
    top-k rule) and ties on colliding hashes break by key identically;
    θ and all retained counts are exact BIGINTs; the estimators
    (K−1)·D/θ and cnt·D/θ are the same IEEE division both engines with
    ROUND(4) absorbing the >2^53 numerator cast. Sub-K cohorts take
    the EXACT path (sketch = population, estimate = kept count — no
    division; the degencheck class), guarded by the same CASE chain,
    with θ_eff = D making the θ-min intersection path collapse to the
    exact overlap count scaled by 1.

    Scale: each cohort pays one distinct-aggregate scan + a K-row
    heap; sketches are K-row frames joined on the sample key —
    merge/intersect/difference cost is O(K), independent of
    cardinality, and the sketch rows are exactly what a snapshot store
    would persist for incremental maintenance (incr_hll_merge's
    pattern). Exact truth columns cost the audit join at test SFs and
    are dropped in production."""
    o = load(spark, sf_dir, "orders")
    ca = pin(
        o.filter(F.expr("o_orderdate < TIMESTAMP '1998-01-01'"))
        .select(F.col("o_custkey").alias("u"))
        .distinct()
    )
    cb = pin(
        o.filter(F.expr("o_orderdate >= TIMESTAMP '1998-01-01'"))
        .select(F.col("o_custkey").alias("u"))
        .distinct()
    )

    def sketch(c: DataFrame) -> DataFrame:
        return pin(
            c.select("u", F.expr(_kmv_h("u")).alias("h"))
            .orderBy("h", "u")
            .limit(_KMV_K)
        )

    sa, sb = sketch(ca), sketch(cb)
    su = sa.unionByName(sb).distinct().orderBy("h", "u").limit(_KMV_K)
    ex = (
        ca.agg(F.count("*").alias("na"))
        .crossJoin(F.broadcast(cb.agg(F.count("*").alias("nb"))))
        .crossJoin(
            F.broadcast(
                ca.join(cb, "u").agg(F.count("*").alias("ni"))
            )
        )
    )
    # su and th (read by ovl and the output) stay unpinned: recomputing
    # them from the pinned K-row sketches measured flat or faster
    th = (
        sa.agg(F.count("*").alias("ka"), F.max("h").alias("ta"))
        .crossJoin(
            F.broadcast(
                sb.agg(F.count("*").alias("kb"), F.max("h").alias("tb"))
            )
        )
        .crossJoin(
            F.broadcast(
                su.agg(F.count("*").alias("ku"), F.max("h").alias("tu"))
            )
        )
        .selectExpr(
            "ka",
            "kb",
            "ku",
            f"CASE WHEN ka < {_KMV_K} THEN CAST({_KMV_DOM} AS BIGINT)"
            " ELSE ta END AS ta",
            f"CASE WHEN kb < {_KMV_K} THEN CAST({_KMV_DOM} AS BIGINT)"
            " ELSE tb END AS tb",
            f"CASE WHEN ku < {_KMV_K} THEN CAST({_KMV_DOM} AS BIGINT)"
            " ELSE tu END AS tu",
        )
        .withColumn("tm", F.expr("LEAST(ta, tb)"))
    )
    ovl = (
        sa.join(sb.withColumnRenamed("h", "hb"), "u", "left")
        .crossJoin(F.broadcast(th.select("tm")))
        .filter(F.col("h") < F.col("tm"))
        .agg(
            F.sum(
                F.expr("CASE WHEN hb IS NOT NULL THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("ci"),
            F.sum(F.expr("CASE WHEN hb IS NULL THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("cd"),
        )
        .select(
            F.coalesce("ci", F.lit(0)).alias("ci"),
            F.coalesce("cd", F.lit(0)).alias("cd"),
        )
    )
    kd = f"({_KMV_K} - 1) * CAST({_KMV_DOM} AS BIGINT)"
    return (
        ex.crossJoin(F.broadcast(th))
        .crossJoin(F.broadcast(ovl))
        .selectExpr(
            "na AS n_a_exact",
            "nb AS n_b_exact",
            "na + nb - ni AS union_exact",
            "ni AS inter_exact",
            "na - ni AS diff_exact",
            f"CASE WHEN ka < {_KMV_K} THEN CAST(ka AS DOUBLE)"
            f" WHEN ta > 0 THEN ROUND(CAST({kd} AS DOUBLE) / ta, 4) END"
            " AS n_a_est",
            f"CASE WHEN kb < {_KMV_K} THEN CAST(kb AS DOUBLE)"
            f" WHEN tb > 0 THEN ROUND(CAST({kd} AS DOUBLE) / tb, 4) END"
            " AS n_b_est",
            f"CASE WHEN ku < {_KMV_K} THEN CAST(ku AS DOUBLE)"
            f" WHEN tu > 0 THEN ROUND(CAST({kd} AS DOUBLE) / tu, 4) END"
            " AS union_est",
            f"CASE WHEN tm >= CAST({_KMV_DOM} AS BIGINT) THEN CAST(ci AS DOUBLE)"
            f" WHEN tm > 0 THEN ROUND(CAST(ci AS DOUBLE) * {_KMV_DOM} / tm, 4) END"
            " AS inter_est",
            f"CASE WHEN tm >= CAST({_KMV_DOM} AS BIGINT) THEN CAST(cd AS DOUBLE)"
            f" WHEN tm > 0 THEN ROUND(CAST(cd AS DOUBLE) * {_KMV_DOM} / tm, 4) END"
            " AS diff_est",
        )
    )
