"""Price-analytics operators: the domain queries the reference's data
model exists to serve (SURVEY.md §1.1 — daily min/max/modal price
quotations per market×commodity), re-expressed on the driver star
schema.

- `ts_ohlc`: open/high/low/close downsampling of a price series — the
  canonical "daily quotes → monthly bars" rollup of any market feed;
- `anomaly_zscore`: price-spike detection (the data-quality operator
  SURVEY.md §1.3.5 calls for: the reference ships known dirt like
  Min_Price > Max_Price and never flags it);
- `agg_entropy`: Shannon entropy of a categorical mix per group — the
  assortment-diversity metric (and a standard training-data corpus
  diagnostic);
- `agg_vwap`: volume-weighted average price — the weighted-mean twin of
  `agg_price_stats`' plain mean;
- `win_pareto_share`: cumulative revenue share + ABC classification
  ("which commodities make 80% of volume").

Cross-engine determinism (registry.py rules): all means/variances are
built from DECIMAL-accumulated sums (exact, order-independent); ratios
of exact values are evaluated with the identical IEEE expression tree on
both engines (div/mul/sub/sqrt are correctly rounded, hence bitwise
reproducible); only genuinely order-sensitive float SUMs (the entropy's
Σ c·ln c) and libm-boundary fns (ln) are ROUNDed, at 4 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import DEC, DEC_WIDE, dsum, sql_dsum
from ..memo import pin
from ..registry import query
from ..tables import load


@query(
    "ts_ohlc",
    oracle="""
WITH t AS (
  SELECT o_orderpriority AS prio,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority,
                                         date_trunc('month', o_orderdate)
                            ORDER BY o_orderdate, o_orderkey) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority,
                                         date_trunc('month', o_orderdate)
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_d
  FROM orders
)
SELECT prio, month,
       MAX(CASE WHEN rn_a = 1 THEN o_totalprice END) AS open_price,
       MAX(o_totalprice) AS high_price,
       MIN(o_totalprice) AS low_price,
       MAX(CASE WHEN rn_d = 1 THEN o_totalprice END) AS close_price,
       COUNT(*) AS n_quotes
FROM t
GROUP BY prio, month
""",
)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: monthly open/high/low/close bars per priority
    class — "daily mandi quotes → monthly price bars" on the agmarknet
    table (open = first quote of the month, close = last).

    Spark side uses `min_by`/`max_by` keyed on a packed BIGINT
    (epoch_day·10¹³ + orderkey — day-granular date then the unique
    orderkey tiebreaker, per the registry.py window rule): a single-pass
    declarative aggregate with partial (map-side) combine, so at 100 TB
    each bar costs one shuffled row per (group, month) — no per-group
    sort at all. The packing matters: a struct ordering key would demote
    the plan to SortAggregate (struct buffers aren't hash-aggregable,
    asserted in tests/test_plans.py), while the BIGINT keeps
    HashAggregate. Packing budget: epoch_day ≤ 922,336 (year ~4495)
    and orderkey < 10¹³ keep the packed value under int64's 9.22e18
    ceiling. The oracle expresses the
    same semantics as ROW_NUMBER-over-total-order; the two formulations
    coincide exactly because (o_orderdate, o_orderkey) is a total order.
    min/max/first/last on doubles are exact picks, not accumulations —
    no decimal path needed.
    """
    o = load(spark, sf_dir, "orders")
    tb = F.unix_date(F.col("o_orderdate").cast("date")).cast("long") * F.lit(
        10_000_000_000_000
    ) + F.col("o_orderkey")
    return (
        o.groupBy(
            F.col("o_orderpriority").alias("prio"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        )
        .agg(
            F.min_by("o_totalprice", tb).alias("open_price"),
            F.max("o_totalprice").alias("high_price"),
            F.min("o_totalprice").alias("low_price"),
            F.max_by("o_totalprice", tb).alias("close_price"),
            F.count("*").alias("n_quotes"),
        )
    )


# z-score threshold: the testdata's o_totalprice is uniform per group
# (z ∈ [-√3, √3]), so 1.7σ flags the top ~1% tail; on real bell-tailed
# price data the conventional 3σ applies unchanged. Any cut works
# cross-engine — z is bitwise identical on both sides (see docstring).
_Z_THRESHOLD = 1.7


@query(
    "anomaly_zscore",
    oracle=f"""
WITH s AS (
  SELECT o_orderpriority AS prio, COUNT(*) AS n,
         {sql_dsum("o_totalprice")} AS s1,
         {sql_dsum("o_totalprice * o_totalprice", DEC_WIDE)} AS s2
  FROM orders
  GROUP BY o_orderpriority
), m AS (
  SELECT prio, s1 / n AS mean_price,
         sqrt(GREATEST(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS sd_price
  FROM s
)
SELECT o.o_orderkey, m.prio, o.o_totalprice,
       ROUND((o.o_totalprice - m.mean_price) / m.sd_price, 6) AS zscore
FROM orders o JOIN m ON o.o_orderpriority = m.prio
WHERE (o.o_totalprice - m.mean_price) > {_Z_THRESHOLD} * m.sd_price
""",
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-spike detection: rows whose price sits more than the threshold above
    their group mean — the anomaly-flagging operator the reference's
    cleaning pass lacks (SURVEY.md §1.3.5).

    Determinism is engineered, not rounded-into: mean and variance come
    from DECIMAL-exact Σx and Σx² (x² is exact in double — price has 2
    decimal digits and ≤6 integer digits, so x² needs ≤53 bits), and
    the z expression is the *identical* IEEE tree on both engines
    (each of div/mul/sub/sqrt is correctly rounded, hence bitwise
    deterministic given identical inputs) — so the threshold cut cannot
    disagree. The ROUND(6) on the *output* column is cosmetic.

    Scale: one partial-agg pass for the 5-row stats table, broadcast
    back onto the fact scan — no window over fact-sized partitions, no
    second shuffle. At 100 TB this is 2 scans (or 1 with a cached
    stats table) and zero exchanges of fact rows.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    x = F.col("o_totalprice")
    st = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.count("*").alias("n"),
        dsum(x).alias("s1"),
        dsum(x * x, DEC_WIDE).alias("s2"),
    )
    m = st.select(
        "prio",
        (F.col("s1") / F.col("n")).alias("mean_price"),
        # GREATEST(var, 0) on BOTH sides: a constant group's variance can
        # land a few ulps negative via cancellation, and DuckDB's sqrt
        # hard-errors on negatives where Spark would yield NaN
        F.sqrt(
            F.greatest(
                F.col("s2") / F.col("n")
                - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n")),
                F.lit(0.0),
            )
        ).alias("sd_price"),
    )
    z = (x - F.col("mean_price")) / F.col("sd_price")
    # multiply-form cut, not z > T: division-free, so a constant-price
    # group (sd = 0, as real mandi data contains) flags nothing instead
    # of tripping ANSI divide-by-zero; for sd > 0 the two forms agree on
    # both engines because each uses this same expression
    return (
        o.join(F.broadcast(m), o.o_orderpriority == m.prio)
        .filter((x - F.col("mean_price")) > _Z_THRESHOLD * F.col("sd_price"))
        .select(
            "o_orderkey",
            "prio",
            "o_totalprice",
            F.round(z, 6).alias("zscore"),
        )
    )


@query(
    "agg_entropy",
    oracle="""
WITH c AS (
  SELECT p_brand, p_type, COUNT(*) AS cnt
  FROM part
  GROUP BY p_brand, p_type
)
SELECT p_brand,
       CAST(SUM(cnt) AS BIGINT) AS n_parts,
       COUNT(*) AS n_types,
       ROUND(ln(SUM(cnt)) - SUM(cnt * ln(cnt)) / SUM(cnt), 4) AS entropy_nats
FROM c
GROUP BY p_brand
""",
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the type mix per brand (assortment diversity;
    on the agmarknet table: variety-mix entropy per commodity — how
    concentrated "Other" really is, SURVEY.md §1.3.5). Also the
    standard corpus-diversity diagnostic of a training-data pipeline.

    H = ln n − (Σ cᵢ·ln cᵢ)/n over exact integer category counts: one
    partial-agg pass to counts (the only fact-sized shuffle, keyed by
    (group, category)), then a tiny second agg. The Σ cᵢ·ln cᵢ float sum
    is order-sensitive and ln is a libm boundary — ROUND(4) per
    registry.py; everything upstream is exact integers.
    """
    p = load(spark, sf_dir, "part")
    c = p.groupBy("p_brand", "p_type").agg(F.count("*").alias("cnt"))
    n = F.sum("cnt")
    return c.groupBy("p_brand").agg(
        n.cast("long").alias("n_parts"),
        F.count("*").alias("n_types"),
        F.round(F.log(n) - F.sum(F.col("cnt") * F.log("cnt")) / n, 4).alias(
            "entropy_nats"
        ),
    )


@query(
    "agg_vwap",
    oracle=f"""
SELECT p.p_brand,
       {sql_dsum("l.l_extendedprice * (1 - l.l_discount) * l.l_quantity",
                 DEC_WIDE)}
       / {sql_dsum("l.l_quantity")} AS vwap,
       {sql_dsum("l.l_quantity")} AS total_qty,
       COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
)
def agg_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per brand — the arrivals-weighted
    mean price of the mandi domain (a plain AVG over quotes is biased by
    thin markets; the VWAP weights by traded quantity).

    Both numerator Σ(price·(1−disc)·qty) and denominator Σqty accumulate
    in DECIMAL (order-independent); the per-row product is plain IEEE
    arithmetic (deterministic given identical parquet doubles) and its
    `DEC_WIDE` quantization is tie-free (a binary double is never
    exactly at a 1e-6 midpoint). The final ratio of two exact doubles is
    one correctly-rounded division — bitwise equal across engines, so no
    rounding is applied (registry.py: rounding *introduces* divergence
    on exact ratios). part is broadcast; one fact shuffle on p_brand.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    wsum = dsum(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.col("l_quantity"),
        DEC_WIDE,
    )
    qsum = dsum("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            (wsum / qsum).alias("vwap"),
            qsum.alias("total_qty"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "win_pareto_share",
    oracle=f"""
WITH r AS (
  SELECT p.p_brand,
         SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS {DEC_WIDE})) AS rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
), w AS (
  SELECT p_brand, rev,
         SUM(rev) OVER (ORDER BY rev DESC, p_brand
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(rev) OVER () AS total
  FROM r
)
SELECT p_brand,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share,
       CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.80 THEN 'A'
            WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM w
""",
)
def win_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: rank brands by revenue, accumulate their
    share of the total, classify A (first 80%), B (to 95%), C (tail) —
    "which commodities carry the market" on the agmarknet table.

    The fact-sized work is the one pre-aggregation shuffle; the windows
    run over the K-row aggregate (K = brands ≈ group-key cardinality,
    thousands at worst), so the single-partition global window is over
    K rows, never fact rows — the safe pattern for global cumulative
    metrics at 100 TB. Running sums stay in DECIMAL through the window
    (exact, order-independent given the total ORDER BY rev DESC,
    p_brand); shares are exact-over-exact double divisions, so the
    0.80/0.95 class cuts cannot disagree between engines.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC_WIDE)
    ).alias("rev")
    r = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(rev)
    )
    w_cum = Window.orderBy(F.desc("rev"), "p_brand").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    share = F.sum("rev").over(w_cum).cast("double") / F.sum("rev").over(
        w_all
    ).cast("double")
    return r.select(
        "p_brand",
        F.col("rev").cast("double").alias("revenue"),
        share.alias("cum_share"),
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
    )


_FUNNEL = ("view", "click", "purchase")


@query(
    "win_funnel_steps",
    oracle=f"""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = '{_FUNNEL[0]}' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
  WHERE e.event_type = '{_FUNNEL[1]}' GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
  WHERE e.event_type = '{_FUNNEL[2]}' GROUP BY e.user_id
)
SELECT 'step1_{_FUNNEL[0]}' AS step, COUNT(*) AS n_users FROM s1
UNION ALL SELECT 'step2_{_FUNNEL[1]}', COUNT(*) FROM s2
UNION ALL SELECT 'step3_{_FUNNEL[2]}', COUNT(*) FROM s3
""",
)
def win_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: users whose first
    view precedes a later click precedes a later purchase — the product
    analytics every event pipeline serves. Step N is 'earliest step-N
    event strictly after the user's step-(N−1) time', so out-of-order
    arrivals can't fake a conversion.

    Scale shape: each step is a per-user MIN aggregate joined back to
    the event scan on user_id — every stage hash-partitions by the SAME
    key, so Catalyst reuses one exchange layout down the chain and the
    per-step state is one timestamp per surviving user (monotonically
    shrinking). Timestamps compare as exact integers (no float rank
    boundaries). The sessionize/asof alternative — one sort per user —
    pays a full per-user ordering this never needs."""
    from ..tables import load as _load

    ev = _load(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_after(step: str, prev: DataFrame, tcol: str, out: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == step)
        return (
            e.join(prev, "user_id")
            .filter(F.col("ts") > F.col(tcol))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    s1 = (
        ev.filter(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = first_after(_FUNNEL[1], s1, "t1", "t2")
    s3 = first_after(_FUNNEL[2], s2, "t2", "t3")
    rows = [
        s1.agg(F.lit(f"step1_{_FUNNEL[0]}").alias("step"), F.count("*").alias("n_users")),
        s2.agg(F.lit(f"step2_{_FUNNEL[1]}").alias("step"), F.count("*").alias("n_users")),
        s3.agg(F.lit(f"step3_{_FUNNEL[2]}").alias("step"), F.count("*").alias("n_users")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@query(
    "win_retention_cohort",
    oracle="""
WITH first_day AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
)
SELECT f.cohort_day,
       CAST(a.d - f.cohort_day AS BIGINT) AS day_offset,
       COUNT(*) AS n_users
FROM activity a JOIN first_day f USING (user_id)
GROUP BY f.cohort_day, a.d - f.cohort_day
""",
)
def win_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    on each later active day as an offset from their cohort — the
    retention curve behind every 'day-N retention' metric (and, for the
    reference's data model, 'markets still quoting N days after first
    quotation').

    Scale shape: cohort assignment is a per-user MIN (partial-agg), the
    (user, day) activity grid is a distinct over the same user-keyed
    exchange, and the final matrix is |days|² rows regardless of event
    volume. COUNT(*) over the distinct grid ≡ COUNT(DISTINCT user) per
    cell but keeps the final aggregate Expand-free."""
    from ..tables import load as _load

    ev = _load(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    activity = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    return (
        activity.join(first_day, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("d", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "ts_seasonal_profile",
    oracle=f"""
WITH m AS (
  SELECT o_orderpriority AS prio,
         CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS moy,
         {sql_dsum("o_totalprice")} AS s,
         COUNT(*) AS n
  FROM orders GROUP BY 1, 2
), t AS (
  SELECT o_orderpriority AS prio,
         {sql_dsum("o_totalprice")} AS s_all,
         COUNT(*) AS n_all
  FROM orders GROUP BY 1
)
SELECT m.prio, m.moy,
       m.s / m.n AS month_avg,
       (m.s / m.n) / (t.s_all / t.n_all) AS seasonal_idx
FROM m JOIN t ON m.prio = t.prio
""",
)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality index per priority class: monthly mean
    price over the class's all-time mean — the query behind 'onion
    prices spike before monsoon' on the mandi table. Index 1.0 = no
    seasonality; the profile aggregates ACROSS years, so one pass
    yields the seasonal fingerprint directly (no per-year series to
    post-process).

    Two partial-aggregable passes over the fact (12·K and K rows out),
    joined on the tiny key. Determinism: both means are exact-DECIMAL
    sums over counts, and the index divides those exact doubles with
    the same IEEE expression tree on both engines — unroundable, per
    the module's ratio rule."""
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.month("o_orderdate").cast("long").alias("moy"),
    ).agg(dsum("o_totalprice").alias("s"), F.count("*").alias("n"))
    t = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        dsum("o_totalprice").alias("s_all"), F.count("*").alias("n_all")
    )
    month_avg = F.col("s") / F.col("n")
    overall = F.col("s_all") / F.col("n_all")
    return m.join(t, "prio").select(
        "prio",
        "moy",
        month_avg.alias("month_avg"),
        (month_avg / overall).alias("seasonal_idx"),
    )


@query(
    "agg_gini",
    oracle=f"""
WITH r AS (
  SELECT o_orderpriority AS prio, o_totalprice AS x,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn
  FROM orders
)
SELECT prio,
       ROUND(2.0 * {sql_dsum("rn * x", DEC_WIDE)}
         / (COUNT(*) * {sql_dsum("x")})
         - (COUNT(*) + 1.0) / COUNT(*), 10) AS gini,
       COUNT(*) AS n
FROM r GROUP BY prio
""",
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order value per priority class — the
    inequality measure completing the concentration family
    (win_pareto_share ranks the classes, agg_entropy scores the mix,
    Gini scalars the whole distribution). Rank formula over ascending
    values: G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n.

    Determinism: i·xᵢ is one IEEE product (identical bits both
    engines) summed in DECIMAL — but the two engines ROUND that product
    to the 1e-6 decimal grain with different rounding modes (half-up vs
    half-even), leaving ~1e-16 relative drift in the sums, so the final
    coefficient is ROUND(10)ed on both sides (drift sits 6 orders below
    the grain). Σᵢ i·xᵢ is permutation-invariant within tied values, so
    the rank tiebreak can't change the sum. Scale: ranking costs one sort per
    group — at 100 TB swap in the histogram/binned Gini (one pass, no
    sort) with this exact form as its audit."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    r = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("x"),
        F.row_number().over(w).alias("rn"),
    )
    s1 = dsum(F.col("rn") * F.col("x"), DEC_WIDE)
    s0 = dsum("x")
    n = F.count("*")
    return r.groupBy("prio").agg(
        F.round(F.lit(2.0) * s1 / (n * s0) - (n + 1.0) / n, 10).alias("gini"),
        n.alias("n"),
    )


@query(
    "ts_anomaly_mad",
    oracle="""
WITH med AS (
  SELECT l_returnflag, ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS med
  FROM lineitem GROUP BY l_returnflag
), mad AS (
  SELECT l.l_returnflag,
         ROUND(quantile_cont(ABS(l.l_extendedprice - m.med), 0.5), 4) AS mad
  FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
  GROUP BY l.l_returnflag
)
SELECT l.l_returnflag, m.med, d.mad,
       CAST(SUM(CASE WHEN ABS(l.l_extendedprice - m.med) > 6 * d.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       COUNT(*) AS n
FROM lineitem l
JOIN med m ON l.l_returnflag = m.l_returnflag
JOIN mad d ON l.l_returnflag = d.l_returnflag
GROUP BY l.l_returnflag, m.med, d.mad
""",
)
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: median absolute deviation instead of
    anomaly_zscore's moments. The zscore flag breaks down exactly where
    it matters — heavy-tailed mandi prices inflate the stddev until real
    spikes hide under the 4σ line — while median and MAD have a 50%
    breakdown point, so the flag stays calibrated on dirty data.

    Three passes over the fact (median, MAD, count-outliers), each a
    per-group aggregate with the tiny stats rows broadcast back —
    never a fact-sized window. Exact interpolated medians carry
    agg_percentiles' ROUND(4) rule so both engines draw the identical
    outlier boundary; at 100 TB both medians come from one KLL sketch
    pass each, with this exact form as the audit."""
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("med")
    )
    dev = li.join(F.broadcast(med), "l_returnflag")
    mad = dev.groupBy("l_returnflag").agg(
        F.round(
            F.percentile(F.abs(F.col("l_extendedprice") - F.col("med")), 0.5), 4
        ).alias("mad")
    )
    scored = li.join(F.broadcast(med), "l_returnflag").join(
        F.broadcast(mad), "l_returnflag"
    )
    is_out = F.abs(F.col("l_extendedprice") - F.col("med")) > 6 * F.col("mad")
    return scored.groupBy("l_returnflag", "med", "mad").agg(
        F.sum(F.when(is_out, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
        F.count("*").alias("n"),
    )


_MADS_BINS = 1024


def _mads_hist_sql(src: str, val: str, out: str) -> str:
    """One binned-median pass in SQL: fixed 1024-width histogram
    of `val` over `src` (grouped by l_returnflag), answer = lower edge
    of the first bin whose cumulative count reaches half."""
    return f"""
rng_{out} AS (
  SELECT l_returnflag, MIN({val}) AS mn, MAX({val}) AS mx
  FROM {src} GROUP BY l_returnflag
),
hist_{out} AS (
  SELECT s.l_returnflag,
         CAST(LEAST(FLOOR((s.{val} - r.mn)
                          / (CASE WHEN r.mx = r.mn THEN 1.0
                                  ELSE (r.mx - r.mn) / {_MADS_BINS} END)),
                    {_MADS_BINS - 1}) AS BIGINT) AS k,
         COUNT(*) AS c
  FROM {src} s JOIN rng_{out} r ON s.l_returnflag = r.l_returnflag
  GROUP BY 1, 2
),
cut_{out} AS (
  SELECT l_returnflag, MIN(k) AS k FROM (
    SELECT l_returnflag, k,
           SUM(c) OVER (PARTITION BY l_returnflag ORDER BY k) AS cc,
           SUM(c) OVER (PARTITION BY l_returnflag) AS tc
    FROM hist_{out}
  ) WHERE cc * 2 >= tc GROUP BY l_returnflag
),
{out} AS (
  SELECT c.l_returnflag,
         r.mn + CAST(c.k AS DOUBLE)
                * (CASE WHEN r.mx = r.mn THEN 1.0
                        ELSE (r.mx - r.mn) / {_MADS_BINS} END) AS v
  FROM cut_{out} c JOIN rng_{out} r USING (l_returnflag)
)"""


@query(
    "ts_anomaly_mad_sketch",
    oracle=f"""
WITH base AS (
  SELECT l_returnflag, l_extendedprice AS x FROM lineitem
),
{_mads_hist_sql('base', 'x', 'meds')},
devs AS (
  SELECT b.l_returnflag, ABS(b.x - m.v) AS x
  FROM base b JOIN meds m USING (l_returnflag)
),
{_mads_hist_sql('devs', 'x', 'mads')},
flags AS (
  SELECT b.l_returnflag, m.v AS med_sketch, d.v AS mad_sketch,
         CAST(SUM(CASE WHEN ABS(b.x - m.v) > 6 * d.v THEN 1 ELSE 0 END)
              AS BIGINT) AS n_outliers_sketch,
         COUNT(*) AS n
  FROM base b
  JOIN meds m USING (l_returnflag)
  JOIN mads d USING (l_returnflag)
  GROUP BY 1, 2, 3
),
ex_med AS (
  SELECT l_returnflag, ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS med
  FROM lineitem GROUP BY l_returnflag
),
ex_mad AS (
  SELECT l.l_returnflag,
         ROUND(quantile_cont(ABS(l.l_extendedprice - m.med), 0.5), 4) AS mad
  FROM lineitem l JOIN ex_med m ON l.l_returnflag = m.l_returnflag
  GROUP BY l.l_returnflag
)
SELECT f.l_returnflag, f.med_sketch, f.mad_sketch, f.n_outliers_sketch,
       m.med AS med_exact, d.mad AS mad_exact, f.n
FROM flags f
JOIN ex_med m USING (l_returnflag)
JOIN ex_mad d USING (l_returnflag)
""",
)
def ts_anomaly_mad_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts_anomaly_mad's promised 100 TB interior made real: both the
    median and the MAD come from fixed-width 1024-bin COUNT
    histograms (agg_weighted_median_sketch's mergeable-quantile trick,
    unweighted) — per-group state is ≤1024 (bin, count) rows
    per pass instead of a full-column exact percentile, and bin counts
    merge across shards/days by addition (the KLL/GK contract on a
    fixed grid). Two sketch passes (median of x, then median of
    |x − med̃|), one scoring pass with the sketch boundary, and the
    exact ROUND(4) percentile med/MAD ride alongside as the audit twin
    — tests pin |med̃ − med| ≤ range/1024 and the MAD
    equivalent. All bucketing arithmetic is the identical IEEE
    expression on both engines; no rounding anywhere in the sketch
    path."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").alias("x")
    )

    def binned_median(src: DataFrame, out: str) -> DataFrame:
        rng = src.groupBy("l_returnflag").agg(
            F.min("x").alias("mn"), F.max("x").alias("mx")
        )
        width = F.when(F.col("mx") == F.col("mn"), F.lit(1.0)).otherwise(
            (F.col("mx") - F.col("mn")) / _MADS_BINS
        )
        hist = (
            src.join(F.broadcast(rng), "l_returnflag")
            .select(
                "l_returnflag",
                F.least(
                    F.floor((F.col("x") - F.col("mn")) / width),
                    F.lit(_MADS_BINS - 1),
                ).cast("bigint").alias("k"),
            )
            .groupBy("l_returnflag", "k")
            .agg(F.count("*").alias("c"))
        )
        w_cum = Window.partitionBy("l_returnflag").orderBy("k")
        w_all = Window.partitionBy("l_returnflag")
        cut = (
            hist.withColumn("cc", F.sum("c").over(w_cum))
            .withColumn("tc", F.sum("c").over(w_all))
            .filter(F.col("cc") * 2 >= F.col("tc"))
            .groupBy("l_returnflag")
            .agg(F.min("k").alias("k"))
        )
        return cut.join(rng, "l_returnflag").select(
            "l_returnflag",
            (F.col("mn") + F.col("k").cast("double") * width).alias(out),
        )

    meds = binned_median(li, "med_sketch")
    devs = li.join(F.broadcast(meds), "l_returnflag").select(
        "l_returnflag",
        F.abs(F.col("x") - F.col("med_sketch")).alias("x"),
    )
    mads = binned_median(devs, "mad_sketch")
    scored = li.join(F.broadcast(meds), "l_returnflag").join(
        F.broadcast(mads), "l_returnflag"
    )
    is_out = F.abs(F.col("x") - F.col("med_sketch")) > 6 * F.col("mad_sketch")
    flags = scored.groupBy("l_returnflag", "med_sketch", "mad_sketch").agg(
        F.sum(F.when(is_out, 1).otherwise(0))
        .cast("bigint")
        .alias("n_outliers_sketch"),
        F.count("*").alias("n"),
    )
    exact = ts_anomaly_mad(spark, sf_dir).select(
        "l_returnflag",
        F.col("med").alias("med_exact"),
        F.col("mad").alias("mad_exact"),
    )
    return flags.join(exact, "l_returnflag").select(
        "l_returnflag",
        "med_sketch",
        "mad_sketch",
        "n_outliers_sketch",
        "med_exact",
        "mad_exact",
        "n",
    )


@query(
    "ts_max_drawdown",
    oracle=f"""
WITH daily AS (
  SELECT o_orderpriority AS prio,
         CAST(o_orderdate AS DATE) AS d,
         {sql_dsum("o_totalprice")} AS x
  FROM orders GROUP BY 1, 2
), run AS (
  SELECT prio, d, x,
         MAX(x) OVER (PARTITION BY prio ORDER BY d
                      ROWS UNBOUNDED PRECEDING) AS peak
  FROM daily
), dd AS (
  SELECT prio, d, ROUND(1.0 - x / peak, 6) AS drawdown FROM run
)
SELECT prio,
       MAX(drawdown) AS max_drawdown,
       MIN_BY(d, CAST(ROUND((1.0 - drawdown) * 1e6, 0) AS BIGINT) * 100000
                 + (CAST(d - DATE '1970-01-01' AS BIGINT) % 100000))
           AS trough_d,
       COUNT(*) AS n_days
FROM dd
GROUP BY prio
""",
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily order-value series: the deepest
    peak-to-trough fall of the running maximum — the risk metric the
    OHLC/VWAP family reads off a price feed. Running MAX is exact
    selection (no float accumulation anywhere); the per-day drawdown
    ratio divides exact doubles and is ROUND(6)ed once so the argmin
    cut is cross-engine stable; the trough day rides a packed-BIGINT
    min_by (scaled retained-value then epoch-day tiebreak — earliest
    deepest trough wins) to keep HashAggregate. One window pass over
    the daily pre-aggregate, one aggregate — fact rows touched once."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(dsum("o_totalprice").alias("x"))
    w = (
        Window.partitionBy("prio")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = daily.select(
        "prio",
        "d",
        F.round(1.0 - F.col("x") / F.max("x").over(w), 6).alias("drawdown"),
    )
    key = (
        F.round((1.0 - F.col("drawdown")) * 1e6, 0).cast("bigint") * 100000
        + F.unix_date("d").cast("bigint") % 100000
    )
    return dd.groupBy("prio").agg(
        F.max("drawdown").alias("max_drawdown"),
        F.min_by("d", key).alias("trough_d"),
        F.count("*").alias("n_days"),
    )


@query(
    "dim_scd2_build",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), chg AS (
  SELECT user_id, event_type, ts, event_id
  FROM seq
  WHERE prev_type IS NULL OR event_type != prev_type
), iv AS (
  SELECT user_id, event_type, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS valid_to
  FROM chg
)
SELECT user_id, event_type, valid_from, valid_to,
       CAST(valid_to IS NULL AS BIGINT) AS is_current
FROM iv
""",
)
def dim_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build: collapse each user's
    event stream into state-validity intervals — rows survive only
    where event_type CHANGES, each carrying [valid_from, valid_to) and
    an is_current flag. This is the dimension-history table every
    warehouse maintains for as-of joins (join_asof_prices consumes
    exactly this shape), built distributed: both windows and the
    change-filter key on user_id, so the whole operator is ONE exchange
    reused across stages — no self-join, no collect.

    Window orderings carry the event_id tiebreaker: equal-ts events
    would otherwise make LAG/LEAD nondeterministic (registry.py rule).
    At 100 TB: user_id keys the shuffle; AQE splits skewed users, and
    the output is a fraction of the input (changes only)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    chg = seq.filter(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = chg.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    )
    return iv.select(
        "user_id",
        "event_type",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().cast("long").alias("is_current"),
    )


_MB_TOPK = 30
# Hub guard (graph_bipartite_projection's _BP_DEGREE_CAP, applied to
# baskets): one hub order carrying thousands of distinct brands would
# make the basket self-join quadratic in that order's size. Cap each
# basket to its _MB_DEGREE_CAP first brands (deterministic ordering,
# same cap in the oracle SQL). The testdata's baskets are ≤7 lines, so
# the cap is a no-op at the gate — it exists for the hub basket the
# generator can't produce but real data does.
_MB_DEGREE_CAP = 64


_MB_SQL = f"""
WITH ob0 AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
ob AS (
  SELECT ok, brand FROM (
    SELECT ok, brand,
           ROW_NUMBER() OVER (PARTITION BY ok ORDER BY brand) AS rn
    FROM ob0
  ) WHERE rn <= {_MB_DEGREE_CAP}
),
n_orders AS (SELECT COUNT(DISTINCT ok) AS n FROM ob),
brand_n AS (SELECT brand, COUNT(*) AS nb FROM ob GROUP BY brand),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_ab
  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
  GROUP BY 1, 2
),
scored AS (
  SELECT p.brand_a, p.brand_b, p.n_ab,
         (CAST(p.n_ab AS DOUBLE) * n.n) / (CAST(ba.nb AS DOUBLE) * bb.nb)
           AS lift
  FROM pairs p
  JOIN brand_n ba ON ba.brand = p.brand_a
  JOIN brand_n bb ON bb.brand = p.brand_b
  CROSS JOIN n_orders n
)
SELECT brand_a, brand_b, n_ab, lift
FROM scored
ORDER BY n_ab DESC, brand_a, brand_b
LIMIT {_MB_TOPK}
"""


@query("agg_market_basket", oracle=_MB_SQL)
def agg_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (association mining's counting
    core): brand pairs that appear in the same order, with support
    count and lift = P(ab)/(P(a)·P(b)). The pair join is BLOCKED BY
    BASKET — the self-join key is the orderkey, so the quadratic term
    is bounded by lines-per-order (≤7 here), never corpus-wide; that
    is the same discipline as every dedup candidate join, and the a<b
    orientation counts each pair once. On top of the generator's
    bound, each basket is HARD degree-capped at 64
    brands (deterministic first-by-brand selection, same cap in the
    oracle SQL) so one hub basket on real data can never turn the
    self-join quadratic — tests/test_new_ops.py plants one and pins
    the bound. Lift divides exact counts in
    one double operation with identical operands on both engines, so
    it is bitwise-identical unrounded (registry's integer-ratio rule).

    At 100 TB the basket self-join shuffles on orderkey (a key with
    capped group size — no skew risk) and the
    support table is a partial-aggregated groupBy; the top-k is the
    usual per-partition heap."""
    from ..tables import max_group_count

    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # r12: repartition by the basket key FIRST — hash(ok) satisfies the
    # (ok, brand) distinct's clustering, the conditional cap window
    # partitions on ok, and the pair self-join keys on ok, so all of
    # them reuse this one exchange (guide §2.4); the lazy checkpoint
    # pins the fact join+distinct to ONE execution (it feeds n_orders,
    # brand_n and BOTH self-join sides — 4 plan references in r11).
    ob = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .repartition("ok")
        .distinct()
    )
    # Conditional rank pass (VERDICT r5): distinct brands per basket ≤
    # lines per order — a memoized single-table one-row pre-agg. Only
    # data that might bind the cap pays the window's exchange+sort;
    # the oracle keeps the cap unconditionally (it's a no-op there too).
    if max_group_count(spark, sf_dir, "lineitem", "l_orderkey") > _MB_DEGREE_CAP:
        wcap = Window.partitionBy("ok").orderBy("brand")
        ob = (
            ob.withColumn("_rn", F.row_number().over(wcap))
            .filter(F.col("_rn") <= _MB_DEGREE_CAP)
            .drop("_rn")
        )
    ob = pin(ob, eager=False)
    n_orders = ob.select("ok").distinct().agg(F.count("*").alias("n"))
    brand_n = ob.groupBy("brand").agg(F.count("*").alias("nb"))
    # r12: explicit N-way repartition for the pair expansion —
    # localCheckpoint does not preserve partitioning (the r11 comment
    # above predates that measurement) and AQE coalesces the narrow
    # grain frame to a handful of partitions, serializing the C(deg,2)
    # expansion (the graph_bipartite_projection fix; guide §2.5).
    from ..session import default_parallelism

    obr = ob.repartition(default_parallelism(), "ok")
    a, b = obr.alias("a"), obr.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b")
        )
        .agg(F.count("*").alias("n_ab"))
    )
    ba = brand_n.select(F.col("brand").alias("brand_a"), F.col("nb").alias("na"))
    bb = brand_n.select(F.col("brand").alias("brand_b"), F.col("nb").alias("nb"))
    return (
        pairs.join(F.broadcast(ba), "brand_a")
        .join(F.broadcast(bb), "brand_b")
        .join(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            (
                (F.col("n_ab").cast("double") * F.col("n"))
                / (F.col("na").cast("double") * F.col("nb"))
            ).alias("lift"),
        )
        .orderBy(F.desc("n_ab"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(_MB_TOPK)
    )


_OLS_SQL = f"""
WITH pts AS (
  SELECT o_orderpriority AS prio,
         CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
              AS DOUBLE) AS x,
         o_totalprice AS y
  FROM orders
),
s AS (
  SELECT prio,
         COUNT(*) AS n,
         {sql_dsum("x")} AS sx,
         {sql_dsum("y")} AS sy,
         {sql_dsum("x * y", DEC_WIDE)} AS sxy,
         {sql_dsum("x * x", DEC_WIDE)} AS sxx
  FROM pts GROUP BY prio
)
SELECT prio, n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept
FROM s
"""


@query("ts_trend_ols", oracle=_OLS_SQL)
def ts_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend (price drift per priority class):
    slope and intercept from the closed-form normal equations over
    exact-DECIMAL power sums — one aggregation pass, no iteration, no
    ML library. The four sums accumulate in DECIMAL so they are
    order-exact (x·y products stay within `DEC_WIDE` by
    construction: day-index × price ≈ 1e9); the final slope/intercept
    arithmetic runs on identical doubles both engines and ROUND(6)
    absorbs the last-ulp of the division chain. This is anomaly_
    zscore's exact-moments discipline applied to regression — the
    trend audit every price feed publishes."""
    o = load(spark, sf_dir, "orders")
    x = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
    ).cast("double")
    pts = o.select(
        F.col("o_orderpriority").alias("prio"),
        x.alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    s = pts.groupBy("prio").agg(
        F.count("*").alias("n"),
        dsum("x").alias("sx"),
        dsum("y").alias("sy"),
        dsum(F.col("x") * F.col("y"), DEC_WIDE).alias("sxy"),
        dsum(F.col("x") * F.col("x"), DEC_WIDE).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "prio",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


_ATTR_SQL = """
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN event_type != 'purchase' THEN event_type END AS touch
  FROM events
),
attributed AS (
  SELECT user_id, event_id, ts, event_type,
         FIRST_VALUE(touch IGNORE NULLS) OVER wprev AS first_touch,
         LAST_VALUE(touch IGNORE NULLS) OVER wprev AS last_touch
  FROM ordered
  WINDOW wprev AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT COALESCE(first_touch, 'none') AS first_touch,
       COALESCE(last_touch, 'none') AS last_touch,
       COUNT(*) AS n_purchases
FROM attributed
WHERE event_type = 'purchase'
GROUP BY 1, 2
"""


@query("win_attribution", oracle=_ATTR_SQL)
def win_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch conversion attribution: every purchase
    is credited to the user's earliest and most recent preceding
    non-purchase event — the two bookend models every attribution
    report starts from (the full multi-touch family interpolates
    between these same window primitives). Both credits come from ONE
    sort of each user's history: lag(...) IGNORE NULLS walks back to
    the nearest touch, first_value over the preceding frame finds the
    earliest, and purchases with no prior touch land in the explicit
    'none' bucket instead of vanishing. The (ts, event_id) ordering is
    total (registry rule), so credit assignment is engine-identical.

    At 100 TB this is one window over user-partitioned events — the
    same shuffle win_sessionize already pays — followed by a
    four-value-square aggregation."""
    ev = load(spark, sf_dir, "events")
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.first(touch, ignorenulls=True).over(wprev).alias("first_touch_raw"),
        F.last(touch, ignorenulls=True).over(wprev).alias("last_touch_raw"),
    )
    return (
        attributed.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("first_touch_raw", F.lit("none")).alias("first_touch"),
            F.coalesce("last_touch_raw", F.lit("none")).alias("last_touch"),
        )
        .agg(F.count("*").alias("n_purchases"))
    )


_SCD2_CUTOFF = "2024-01-16 00:00:00"


@query(
    "incr_scd2_apply",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), chg AS (
  SELECT user_id, event_type, ts, event_id
  FROM seq
  WHERE prev_type IS NULL OR event_type != prev_type
), iv AS (
  SELECT user_id, event_type, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS valid_to
  FROM chg
)
SELECT user_id, event_type, valid_from, valid_to,
       CAST(valid_to IS NULL AS BIGINT) AS is_current
FROM iv
""",
)
def incr_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SCD2 maintenance — the production operation
    dim_scd2_build's full rebuild stands in for: the dimension history
    is first built from events before '2024-01-16 00:00:00', then the new
    batch is applied without touching closed history — each user's
    current row closes at the user's first post-cutoff CHANGE (a state
    repeat closes nothing), and the new change-points append as fresh
    intervals. The ORACLE IS THE FULL REBUILD over all events: the
    driver's hash compare is literally the
    'incremental apply ≡ rebuild from scratch' equivalence every
    warehouse merge job owes its users, checked cross-engine.

    Scale shape: the new batch is windowed per user (the small side);
    the only touch on existing history is a broadcast-sized join
    against CURRENT rows of affected users — closed rows stream
    through untouched, which is the entire point of incremental
    maintenance at 100 TB."""
    ev = load(spark, sf_dir, "events")
    cutoff = F.lit(_SCD2_CUTOFF).cast("timestamp")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def intervals(df: DataFrame) -> DataFrame:
        seq = df.select(
            "user_id", "event_type", "ts", "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        chg = seq.filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        return chg.select(
            "user_id", "event_type",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )

    base = pin(intervals(ev.filter(F.col("ts") < cutoff)))

    nb = ev.filter(F.col("ts") >= cutoff)
    cur = base.filter(F.col("valid_to").isNull()).select(
        "user_id", F.col("event_type").alias("cur_type")
    )
    nseq = nb.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    # change relative to the new batch OR, for its first row, to the
    # user's standing state in the existing dimension
    nchg = (
        nseq.join(F.broadcast(cur), "user_id", "left")
        .filter(
            F.when(
                F.col("prev_type").isNotNull(),
                F.col("event_type") != F.col("prev_type"),
            ).otherwise(
                F.col("cur_type").isNull()
                | (F.col("event_type") != F.col("cur_type"))
            )
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    new_iv = pin(
        nchg.select(
            "user_id", "event_type",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )

    first_new = new_iv.groupBy("user_id").agg(
        F.min("valid_from").alias("close_ts")
    )
    closed_kept = base.filter(F.col("valid_to").isNotNull())
    cur_updated = (
        base.filter(F.col("valid_to").isNull())
        .drop("valid_to")
        .join(F.broadcast(first_new), "user_id", "left")
        .select(
            "user_id", "event_type", "valid_from",
            F.col("close_ts").alias("valid_to"),
        )
    )
    dim = closed_kept.unionByName(cur_updated).unionByName(new_iv)
    return dim.select(
        "user_id", "event_type", "valid_from", "valid_to",
        F.col("valid_to").isNull().cast("long").alias("is_current"),
    )


_JK_BUCKETS = 10


_JK_SQL = f"""
WITH bucketed AS (
  SELECT CAST(('0x' || substring(md5('jk:' || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % {_JK_BUCKETS} AS b,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events
),
per_b AS (
  SELECT b, COUNT(*) AS n, CAST(SUM(is_p) AS BIGINT) AS p
  FROM bucketed GROUP BY b
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(p) AS BIGINT) AS tp,
         COUNT(*) AS nb
  FROM per_b
),
loo AS (
  SELECT pb.b,
         CAST(FLOOR(1e9 * (t.tp - pb.p) / GREATEST(t.tn - pb.n, 1)) AS BIGINT)
           AS r_u
  FROM per_b pb CROSS JOIN tot t
),
jk AS (
  SELECT CAST(SUM(r_u) AS BIGINT) AS s,
         SUM(CAST(r_u AS DECIMAL(19,0)) * CAST(r_u AS DECIMAL(19,0))) AS sq,
         COUNT(*) AS nb
  FROM loo
)
SELECT t.tp / t.tn AS rate,
       CAST(t.nb AS BIGINT) AS n_buckets,
       ROUND(sqrt(GREATEST(
         (CAST(jk.nb AS DOUBLE) - 1) / jk.nb
           * (CAST(jk.sq AS DOUBLE) - CAST(jk.s AS DOUBLE) * jk.s / jk.nb), 0))
         / 1e9, 8)
         AS se_jackknife
FROM tot t CROSS JOIN jk
"""


@query("agg_jackknife_ci", oracle=_JK_SQL)
def agg_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife standard error for a ratio metric
    (purchase rate) — the experimentation-platform primitive: ratio
    metrics have no closed-form variance (numerator and denominator
    covary), the bootstrap needs RNG, but the jackknife is exact-
    deterministic: users hash into 10 buckets, each
    leave-one-out rate re-divides exact integer totals, and the
    variance of those rates is computed from INTEGER-LATTICE sums
    (r_u = floor(1e9·R_i) — 10 doubles summed in arbitrary order would
    drift at the last ulp; agg_vector_centroid's rule applied to
    inference). sqrt guards the cancellation-negative (CLAUDE.md).

    At 100 TB: one hash-bucket aggregation (partial map-side, 10-row
    exchange) and driver-free scalar algebra — the whole CI costs one
    scan, which is why jackknife-over-buckets is THE production
    method for ratio-metric error bars."""
    ev = load(spark, sf_dir, "events")
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("jk:"), F.col("user_id").cast("string"))), 1, 8
            ),
            16, 10,
        ).cast("long") % _JK_BUCKETS
    )
    per_b = ev.select(
        b.alias("b"),
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
    ).groupBy("b").agg(
        F.count("*").alias("n"), F.sum("is_p").cast("long").alias("p")
    )
    tot = per_b.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("p").cast("long").alias("tp"),
        F.count("*").alias("nb"),
    )
    loo = per_b.join(F.broadcast(tot)).select(
        # GREATEST guard: a degenerate vintage where one bucket holds
        # every event would make the leave-one-out divisor zero
        F.floor(
            1e9
            * (F.col("tp") - F.col("p"))
            / F.greatest(F.col("tn") - F.col("n"), F.lit(1))
        ).cast("long").alias("r_u")
    )
    # Squared lattice terms reach 1e18 each; a BIGINT sum over the
    # buckets can overflow int64 when the ratio nears 1 — accumulate
    # in DECIMAL ((19,0)×(19,0)→(38,0) on both engines) instead.
    jk = loo.agg(
        F.sum("r_u").cast("long").alias("s"),
        F.sum(
            F.col("r_u").cast("decimal(19,0)")
            * F.col("r_u").cast("decimal(19,0)")
        ).alias("sq"),
        F.count("*").alias("nb_j"),
    )
    return tot.join(F.broadcast(jk)).select(
        (F.col("tp") / F.col("tn")).alias("rate"),
        F.col("nb").cast("long").alias("n_buckets"),
        F.round(
            F.sqrt(
                F.greatest(
                    (F.col("nb_j").cast("double") - 1)
                    / F.col("nb_j")
                    * (
                        F.col("sq").cast("double")
                        - F.col("s").cast("double") * F.col("s") / F.col("nb_j")
                    ),
                    F.lit(0.0),
                )
            )
            / 1e9,
            8,
        ).alias("se_jackknife"),
    )


# ---------------------------------------------------------------------------
# Two-sample Welch t-test (A/B experiment readout)

_AB_LAT = 1e4  # value lattice: events.value < 1e3, 1e4 keeps cents-of-cents


@query(
    "agg_ttest_ab",
    oracle=f"""
WITH assigned AS (
  SELECT CASE WHEN CAST(('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)),
                        1, 8)) AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS variant,
         CAST(FLOOR(value * {_AB_LAT}) AS BIGINT) AS lv
  FROM events),
g AS (
  SELECT variant, COUNT(*) AS n, CAST(SUM(lv) AS BIGINT) AS sv,
         SUM(CAST(lv AS DECIMAL(19,0)) * CAST(lv AS DECIMAL(19,0))) AS sq
  FROM assigned GROUP BY variant),
stats AS (
  SELECT variant, n,
         CAST(sv AS DOUBLE) / {_AB_LAT} / n AS mean,
         GREATEST((CAST(sq AS DOUBLE) / {_AB_LAT} / {_AB_LAT}
                   - (CAST(sv AS DOUBLE) / {_AB_LAT})
                     * (CAST(sv AS DOUBLE) / {_AB_LAT}) / n)
                  / (n - 1), 0) AS var
  FROM g),
w AS (
  SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
         a.var / a.n + b.var / b.n AS vsum,
         a.var / a.n AS va, b.var / b.n AS vb
  FROM (SELECT * FROM stats WHERE variant = 'A') a,
       (SELECT * FROM stats WHERE variant = 'B') b)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       ROUND(mean_a, 4) AS mean_a, ROUND(mean_b, 4) AS mean_b,
       ROUND((mean_a - mean_b) / sqrt(vsum), 4) AS t_stat,
       ROUND(vsum * vsum / (va * va / (n_a - 1) + vb * vb / (n_b - 1)), 4)
         AS df_welch
FROM w
""",
)
def agg_ttest_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test — the A/B experiment readout computed
    in one scan: users hash-assign to variants (md5, the same
    deterministic randomization an experimentation platform persists),
    per-variant mean and sample variance come from INTEGER-LATTICE
    power sums (floor(value·1e4) BIGINT, squares accumulated in
    DECIMAL(19,0)² → DECIMAL(38,0) — the jackknife overflow rule), so
    both engines compute t and the Welch–Satterthwaite df from
    identical integers; GREATEST(var, 0) guards cancellation
    (CLAUDE.md sqrt rule). Complements agg_jackknife_ci: closed-form
    variance for mean metrics here, resampling for ratio metrics
    there.

    At 100 TB: one hash-bucket partial aggregation, a 2-row exchange,
    scalar algebra — experiment readouts are scan-bound, never a
    second pass."""
    ev = load(spark, sf_dir, "events")
    variant = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    lv = F.floor(F.col("value") * _AB_LAT).cast("long")
    g = (
        ev.select(variant.alias("variant"), lv.alias("lv"))
        .groupBy("variant")
        .agg(
            F.count("*").alias("n"),
            F.sum("lv").cast("long").alias("sv"),
            F.sum(
                F.col("lv").cast("decimal(19,0)")
                * F.col("lv").cast("decimal(19,0)")
            ).alias("sq"),
        )
    )
    mean = F.col("sv").cast("double") / _AB_LAT / F.col("n")
    var = F.greatest(
        (
            F.col("sq").cast("double") / _AB_LAT / _AB_LAT
            - (F.col("sv").cast("double") / _AB_LAT)
            * (F.col("sv").cast("double") / _AB_LAT)
            / F.col("n")
        )
        / (F.col("n") - 1),
        F.lit(0.0),
    )
    stats = g.select("variant", "n", mean.alias("mean"), var.alias("var"))
    a = stats.filter(F.col("variant") == "A").select(
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        (F.col("var") / F.col("n")).alias("va"),
    )
    b = stats.filter(F.col("variant") == "B").select(
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        (F.col("var") / F.col("n")).alias("vb"),
    )
    vsum = F.col("va") + F.col("vb")
    return a.join(F.broadcast(b)).select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("mean_a", 4).alias("mean_a"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round((F.col("mean_a") - F.col("mean_b")) / F.sqrt(vsum), 4).alias(
            "t_stat"
        ),
        F.round(
            vsum
            * vsum
            / (
                F.col("va") * F.col("va") / (F.col("n_a") - 1)
                + F.col("vb") * F.col("vb") / (F.col("n_b") - 1)
            ),
            4,
        ).alias("df_welch"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov test (distribution drift, nonparametric)


@query(
    "agg_ks_test",
    oracle="""
WITH pts AS (
  SELECT value,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
  FROM events
  WHERE event_type IN ('click', 'purchase')
),
g AS (
  SELECT value, CAST(SUM(a) AS BIGINT) AS ca, CAST(SUM(b) AS BIGINT) AS cb
  FROM pts GROUP BY value
),
cum AS (
  SELECT SUM(ca) OVER (ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS cum_a,
         SUM(cb) OVER (ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS cum_b,
         SUM(ca) OVER () AS n_a,
         SUM(cb) OVER () AS n_b
  FROM g
),
d AS (
  SELECT n_a, n_b,
         ABS(CAST(cum_a AS DOUBLE) / n_a
             - CAST(cum_b AS DOUBLE) / n_b) AS dd
  FROM cum
)
SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
       CAST(MAX(n_b) AS BIGINT) AS n_b,
       MAX(dd) AS ks_d
FROM d
""",
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the value
    distributions of two event cohorts — the nonparametric
    complement of agg_ttest_ab (detects ANY distributional change,
    not just a mean shift) and the standard drift gate between a
    training corpus snapshot and a refresh. D = max over the pooled
    support of |ECDF_a − ECDF_b|.

    Determinism: counts are exact BIGINTs; each ECDF value is an exact
    integer ratio and D a max of |differences| of such ratios —
    identical IEEE expression trees on identical inputs, so NOT
    rounded (registry.py rules). Scale shape: groupBy value first
    (partial-aggregable; collapses the fact table to its distinct
    support) — the ordered cumulative walk then runs over the
    aggregated support, not the raw events; at 100 TB the support is
    binned (the dq_distribution_drift histogram) and the same walk
    runs over the bins."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    wcum = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = g.select(
        F.sum("ca").over(wcum).alias("cum_a"),
        F.sum("cb").over(wcum).alias("cum_b"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    )
    return cum.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.max(
            F.abs(
                F.col("cum_a").cast("double") / F.col("n_a")
                - F.col("cum_b").cast("double") / F.col("n_b")
            )
        ).alias("ks_d"),
    )


# ---------------------------------------------------------------------------
# CDC apply: materialize a keyed change stream into its final state


@query(
    "incr_cdc_apply",
    oracle="""
WITH chg AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_changes
  FROM events
)
SELECT user_id, CAST(n_changes AS BIGINT) AS n_changes,
       cents AS value_cents
FROM chg
WHERE rn = 1 AND op = 'U'
""",
)
def incr_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply — materialize a keyed change stream
    (upserts + delete tombstones) into its final table state: the
    MERGE that keeps a serving copy in sync with an OLTP feed, and the
    incremental-ingest twin of incr_scd2_apply (which keeps history;
    this keeps only the head). 'error' events are delete tombstones;
    everything else upserts the value (exact integer cents). Last
    writer per key wins, ordered by (ts, event_id) — the unique
    tiebreaker keeps rank boundaries engine-identical; a key whose
    last op is a delete is ABSENT from the output.

    Scale shape: one hash shuffle by key, per-key rank, head filter —
    partial-agg-free but partition-local; at 100 TB the stream is
    log-compacted per micro-batch (this same query over the delta)
    and merged into the bucketed serving table, so each apply touches
    |delta| rows, never the full table."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    wc = Window.partitionBy("user_id")
    chg = ev.select(
        "user_id",
        "op",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n_changes"),
    )
    return chg.filter((F.col("rn") == 1) & (F.col("op") == "U")).select(
        "user_id",
        F.col("n_changes").cast("long").alias("n_changes"),
        F.col("cents").alias("value_cents"),
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence (categorical association)

_CHI_TYPES = ("click", "error", "purchase", "signup", "view")
# Contingency table is r × c with r = |_CHI_TYPES| and c = the hash
# variant's cardinality (binary: v ∈ {0, 1}); df = (r-1)(c-1). Named
# explicitly so the formula survives a future non-binary variant —
# the shorthand len(_CHI_TYPES) - 1 only coincides with (r-1)(c-1)
# while c == 2.
_CHI_N_VARIANTS = 2
_CHI_DF = (len(_CHI_TYPES) - 1) * (_CHI_N_VARIANTS - 1)


def _chi2_sql() -> str:
    """DuckDB twin: the same 10 named cell counts in one row, then the
    same fixed-order expression tree — identical IEEE ops on identical
    integers are bitwise-equal, so chi2 ships UNROUNDED."""
    cells = ",\n       ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' AND v = {v} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS c_{t}_{v}"
        for t in _CHI_TYPES
        for v in (0, 1)
    )
    rows = " + ".join(f"c_{t}_0 + c_{t}_1" for t in _CHI_TYPES)
    terms = []
    for t in _CHI_TYPES:
        for v in (0, 1):
            col = " + ".join(f"c_{tt}_{v}" for tt in _CHI_TYPES)
            row = f"(c_{t}_0 + c_{t}_1)"
            e = f"({row} * CAST(({col}) AS DOUBLE) / n)"
            # zero expected count (empty row/column margin, or an
            # entirely empty table where n = 0): the cell contributes
            # 0 — the CASE keeps the /n and /e divisions unevaluated
            # (lazy on both engines; ANSI throws, DuckDB NULLs)
            terms.append(
                f"(CASE WHEN {row} * ({col}) > 0 THEN "
                f"(c_{t}_{v} - {e}) * (c_{t}_{v} - {e}) / {e} "
                f"ELSE 0.0 END)"
            )
    chi = " + ".join(terms)
    return f"""
WITH assigned AS (
  SELECT event_type,
         CAST(('0x' || substring(md5('chi:' || CAST(user_id AS VARCHAR)),
               1, 8)) AS BIGINT) % 2 AS v
  FROM events
),
cells AS (
  SELECT {cells}
  FROM assigned
),
w AS (SELECT *, CAST(({rows}) AS BIGINT) AS n FROM cells)
SELECT CAST(n AS BIGINT) AS n,
       CAST({_CHI_DF} AS BIGINT) AS df,
       {chi} AS chi2
FROM w
"""


@query("agg_chi2_independence", oracle=_chi2_sql())
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and a
    hash-assigned experiment variant — the categorical member of the
    inference family (agg_ttest_ab: means; agg_ks_test: whole
    distributions; this: contingency tables, e.g. 'did the variant
    change the action MIX'). 5×2 contingency → df = 4.

    Determinism without rounding: the 10 cell counts are exact
    BIGINTs computed as named columns of ONE aggregation row, and chi²
    is a literal fixed-order expression tree over them — identical
    IEEE operations on identical integers are bitwise-equal across
    engines, so no ROUND is needed (registry.py: the named-column
    expression-tree rule). Scale shape: one partial-aggregable scan,
    10 conditional counts, scalar algebra — the cheapest possible
    test at any SF."""
    ev = load(spark, sf_dir, "events")
    v = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("chi:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    a = ev.select("event_type", v.alias("v"))
    cells = a.agg(
        *[
            F.sum(
                F.when(
                    (F.col("event_type") == t) & (F.col("v") == vv), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"c_{t}_{vv}")
            for t in _CHI_TYPES
            for vv in (0, 1)
        ]
    )
    n = None
    for t in _CHI_TYPES:
        term = F.col(f"c_{t}_0") + F.col(f"c_{t}_1")
        n = term if n is None else n + term
    w = cells.withColumn("n", n.cast("long"))
    chi = None
    for t in _CHI_TYPES:
        row = F.col(f"c_{t}_0") + F.col(f"c_{t}_1")
        for vv in (0, 1):
            colsum = None
            for tt in _CHI_TYPES:
                c = F.col(f"c_{tt}_{vv}")
                colsum = c if colsum is None else colsum + c
            e = row * colsum.cast("double") / F.col("n")
            # zero expected count → cell contributes 0 (oracle's CASE)
            term = F.when(
                row * colsum > 0,
                (F.col(f"c_{t}_{vv}") - e) * (F.col(f"c_{t}_{vv}") - e) / e,
            ).otherwise(F.lit(0.0))
            chi = term if chi is None else chi + term
    return w.select(
        F.col("n").cast("long").alias("n"),
        F.lit(_CHI_DF).cast("long").alias("df"),
        chi.alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap standard error (deterministic, hash-derived)

_BS_B = 20  # bootstrap replicates
# Poisson(1) CDF on a 1e6 integer lattice — identical literal
# thresholds on both engines; a hash-uniform u in [0, 1e6) maps
# through them to the replicate's resample weight (0..7).
_BS_CDF = (367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989)


# One md5 per row yields 128 bits = four 32-bit uniforms → four
# replicates; B=20 costs 5 md5s per row, not 40. chunk(r) slices the
# hex at 1 + 8·((r-1) % 4), hash group (r-1) // 4 salts the input.
def _bs_u_sql(r: int) -> str:
    grp, chunk = divmod(r - 1, 4)
    return (
        f"CAST(('0x' || substring(h{grp}, {1 + 8 * chunk}, 8)) AS BIGINT)"
        f" % 1000000"
    )


def _bs_weight_sql(r: int) -> str:
    cases = " ".join(
        f"WHEN u{r} < {t} THEN {k}" for k, t in enumerate(_BS_CDF)
    )
    return f"(CASE {cases} ELSE 8 END)"


def _bootstrap_sql() -> str:
    n_h = (_BS_B + 3) // 4
    hashes = ", ".join(
        f"md5('bs:{g}:' || CAST(event_id AS VARCHAR)) AS h{g}"
        for g in range(n_h)
    )
    us = ", ".join(f"{_bs_u_sql(r)} AS u{r}" for r in range(1, _BS_B + 1))
    ws = ", ".join(
        f"{_bs_weight_sql(r)} AS wt{r}" for r in range(1, _BS_B + 1)
    )
    aggs = ",\n       ".join(
        f"CAST(SUM(wt{r} * cents) AS BIGINT) AS s{r},"
        f" CAST(SUM(wt{r}) AS BIGINT) AS w{r}"
        for r in range(1, _BS_B + 1)
    )
    means = ", ".join(
        f"CAST(s{r} AS DOUBLE) / w{r} AS m{r}" for r in range(1, _BS_B + 1)
    )
    mbar = "(" + " + ".join(f"m{r}" for r in range(1, _BS_B + 1)) + f") / {_BS_B}"
    var = " + ".join(
        f"(m{r} - mb) * (m{r} - mb)" for r in range(1, _BS_B + 1)
    )
    return f"""
WITH src AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, {hashes}
  FROM events
),
u AS (SELECT cents, {us} FROM src),
wt AS (SELECT cents, {ws} FROM u),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS sc,
       {aggs}
  FROM wt
),
m AS (SELECT n, sc, {means} FROM agg),
mb AS (SELECT *, {mbar} AS mb FROM m)
SELECT n, CAST(sc AS DOUBLE) / n AS mean_cents,
       CAST({_BS_B} AS BIGINT) AS n_replicates,
       sqrt(({var}) / {_BS_B - 1}) AS se_cents
FROM mb
"""


@query("agg_bootstrap_se", oracle=_bootstrap_sql())
def agg_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap standard error of the mean event value — the
    resampling-based error bar for statistics with no closed form,
    done the only way that works on a distributed engine AND stays
    reproducible: each of the 20 replicates weights every row by a
    deterministic md5-derived Poisson(1) draw (the streaming-bootstrap
    trick — multinomial resampling needs global coordination, Poisson
    weights are row-local), so replicate r is ONE conditional
    weighted sum, all 40 aggregates computed in a single scan. One
    md5 seeds FOUR replicates (128 bits = 4×32-bit uniforms) and the
    hash→uniform→weight derivation runs as three narrow column stages
    over a load_parallel scan — B=20 costs 5 md5s per row on every
    core, and codegen never sees a 40-branch mega-expression.
    Complements agg_jackknife_ci (delete-one buckets): the bootstrap
    also covers non-smooth statistics.

    Determinism without rounding: weights are integer CASE lookups on
    a hash lattice against literal Poisson-CDF thresholds; replicate
    means are exact-integer ratios; the variance across the 20 named
    replicate columns is a fixed-order expression tree — bitwise-equal
    across engines (the agg_chi2_independence rule). Scale: one
    partial-aggregable scan regardless of B."""
    from ..tables import load_parallel as _lp

    n_h = (_BS_B + 3) // 4
    # stage 1: one md5 per 4 replicates (128 bits = 4×32-bit uniforms),
    # over a load_parallel scan — the md5 work is the operator's cost
    # and must use every core, not the single source file's one task.
    # r12: every stage builds as PARSED-SQL strings (the ivfpq
    # plan-build-latency rule) — the r11 Column-builder loops (160
    # nested when/otherwise pairs alone) issued ~700 py4j round-trips,
    # ~1.8 s of the query's median. Identical expression trees (the
    # when-chain IS the CASE's first-match semantics), same bitwise
    # results.
    src = _lp(spark, sf_dir, "events").selectExpr(
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        *[
            f"md5(concat('bs:{g}:', CAST(event_id AS STRING))) AS h{g}"
            for g in range(n_h)
        ],
    )

    # stage 2: slice uniforms, stage 3: CDF-lookup weights — as narrow
    # column pipelines so codegen stays within method limits instead of
    # one 40-branch mega-aggregate.
    def u_sql(r: int) -> str:
        g, chunk = divmod(r - 1, 4)
        return (
            f"CAST(conv(substring(h{g}, {1 + 8 * chunk}, 8), 16, 10)"
            f" AS BIGINT) % 1000000"
        )

    u = src.selectExpr(
        "cents", *[f"{u_sql(r)} AS u{r}" for r in range(1, _BS_B + 1)]
    )

    def w_sql(r: int) -> str:
        cases = " ".join(
            f"WHEN u{r} < {t} THEN {k}" for k, t in enumerate(_BS_CDF)
        )
        return f"CASE {cases} ELSE 8 END"

    wt = u.selectExpr(
        "cents", *[f"{w_sql(r)} AS wt{r}" for r in range(1, _BS_B + 1)]
    )
    aggs = [
        "CAST(count(*) AS BIGINT) AS n",
        "CAST(sum(cents) AS BIGINT) AS sc",
    ]
    for r in range(1, _BS_B + 1):
        aggs.append(f"CAST(sum(wt{r} * cents) AS BIGINT) AS s{r}")
        aggs.append(f"CAST(sum(wt{r}) AS BIGINT) AS w{r}")
    a = wt.agg(*[F.expr(x) for x in aggs])
    m = a.selectExpr(
        "n",
        "sc",
        *[
            f"CAST(s{r} AS DOUBLE) / w{r} AS m{r}"
            for r in range(1, _BS_B + 1)
        ],
    )
    mbar = " + ".join(f"m{r}" for r in range(1, _BS_B + 1))
    mb = m.withColumn("mb", F.expr(f"({mbar}) / {_BS_B}"))
    var = " + ".join(
        f"(m{r} - mb) * (m{r} - mb)" for r in range(1, _BS_B + 1)
    )
    return mb.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "CAST(sc AS DOUBLE) / n AS mean_cents",
        f"CAST({_BS_B} AS BIGINT) AS n_replicates",
        f"sqrt(({var}) / {_BS_B - 1}) AS se_cents",
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U test (rank-based, the ordinal member of the test family)


@query(
    "agg_mannwhitney_u",
    oracle="""
WITH pts AS (
  SELECT value,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
  FROM events
  WHERE event_type IN ('click', 'purchase')
),
g AS (
  SELECT value,
         CAST(SUM(a) AS BIGINT) AS ca,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM pts GROUP BY value
),
rk AS (
  SELECT ca, c,
         SUM(c) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) - c AS prev
  FROM g
),
s AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS n1,
         CAST(SUM(c - ca) AS BIGINT) AS n2,
         SUM(ca * (prev + (c + 1) / 2.0)) AS r1,
         CAST(SUM(c * c * c - c) AS BIGINT) AS ties
  FROM rk
)
SELECT n1 AS n_a, n2 AS n_b,
       r1 - n1 * (n1 + 1) / 2.0 AS u_stat,
       (r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
         / sqrt(n1 * n2 / 12.0
                * ((n1 + n2 + 1)
                   - CAST(ties AS DOUBLE)
                     / ((n1 + n2) * (n1 + n2 - 1.0)))) AS z_score
FROM s
""",
)
def agg_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between two event cohorts —
    the rank-based member of the inference family (agg_ttest_ab:
    parametric means; agg_ks_test: whole distributions;
    agg_chi2_independence: categorical mixes; this: 'does one cohort
    stochastically dominate', robust to outliers and any monotone
    transform). Tie-handling is the textbook midrank + tie-corrected
    variance.

    Determinism without rounding: midranks are half-integers built
    from exact cumulative counts (exact in doubles far past this
    scale), U is integer arithmetic, and the z-score is one identical
    IEEE expression over exact sums — sqrt/div are correctly rounded,
    so both engines are bitwise-equal with NO rounding anywhere.
    Scale shape: groupBy value collapses the facts to their distinct
    support (partial-aggable); the rank walk and the U algebra run
    over that aggregate (bounded-window rule), exactly agg_ks_test's
    scan profile."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = ev.groupBy("value").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).cast("long").alias("ca"),
        F.count("*").cast("long").alias("c"),
    )
    wcum = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rk = g.select(
        "ca",
        "c",
        (F.sum("c").over(wcum) - F.col("c")).alias("prev"),
    )
    s = rk.agg(
        F.sum("ca").cast("long").alias("n1"),
        F.sum(F.col("c") - F.col("ca")).cast("long").alias("n2"),
        F.sum(
            F.col("ca") * (F.col("prev") + (F.col("c") + 1) / F.lit(2.0))
        ).alias("r1"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("ties"),
    )
    u = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / F.lit(2.0)
    n = F.col("n1") + F.col("n2")
    sigma = F.sqrt(
        F.col("n1")
        * F.col("n2")
        / F.lit(12.0)
        * (
            (n + 1)
            - F.col("ties").cast("double") / (n * (n - F.lit(1.0)))
        )
    )
    return s.select(
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        u.alias("u_stat"),
        ((u - F.col("n1") * F.col("n2") / F.lit(2.0)) / sigma).alias("z_score"),
    )


@query(
    "agg_skyline_pareto",
    oracle="""
SELECT t.p_brand,
       t.p_partkey,
       t.p_retailprice,
       CAST(t.p_size AS BIGINT) AS p_size
FROM part t
WHERE NOT EXISTS (
  SELECT 1 FROM part u
  WHERE u.p_brand = t.p_brand
    AND u.p_retailprice <= t.p_retailprice
    AND u.p_size >= t.p_size
    AND (u.p_retailprice < t.p_retailprice OR u.p_size > t.p_size)
)
""",
)
def agg_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Pareto skyline: per brand, the parts not dominated by any
    other part of the same brand on (price low, size high) — the classic
    multi-criteria shortlist operator ("cheapest-for-its-size" frontier;
    the reference's min/modal/max price triple is the 1-D shadow of this,
    reference fetch_data.py:24-38). Coordinate-equal points never
    dominate each other (no strict inequality), so exact ties all stay
    on the frontier.

    The Spark plan never forms the quadratic NOT-EXISTS product the
    oracle brute-forces. 2-D skyline factorizes into two linear window
    passes, both partitioned by brand (never an unbounded global
    window): (1) within each (brand, price), only max-size rows can
    survive (any same-price row with smaller size is strictly
    dominated); (2) collapsing to one (price, max_size) row per price —
    making the window ordering unique without a tiebreaker — a price
    point survives iff the running max of size over strictly-cheaper
    prices stays below its own size. A left-semi join fans the
    surviving (brand, price) pairs back out to part rows (coordinate
    duplicates included). At 100 TB both windows and the semi join
    shuffle on the same brand-led keys; per-brand sort is the only
    super-linear term and sorts only that brand's rows."""
    p = load(spark, sf_dir, "part")
    w_price = Window.partitionBy("p_brand", "p_retailprice")
    best_at_price = p.withColumn(
        "mx", F.max("p_size").over(w_price)
    ).filter(F.col("p_size") == F.col("mx"))
    price_points = best_at_price.select(
        "p_brand", "p_retailprice", "mx"
    ).distinct()
    w_cheaper = (
        Window.partitionBy("p_brand")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = price_points.withColumn(
        "cheaper_mx", F.max("mx").over(w_cheaper)
    ).filter(
        F.col("cheaper_mx").isNull() | (F.col("cheaper_mx") < F.col("mx"))
    )
    return best_at_price.join(
        frontier.select("p_brand", "p_retailprice"),
        ["p_brand", "p_retailprice"],
        "left_semi",
    ).select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.col("p_size").cast("long").alias("p_size"),
    )


def _pi_lat6(x: Column) -> Column:
    """Bit-identical half-up on the 1e-6 lattice: FLOOR(x*1e6 + 0.5)
    is pure IEEE ops, so a product landing EXACTLY on a half-tie
    resolves the same way on both engines — engine ROUND() does
    not (Spark rounds the shortest decimal string, DuckDB the
    scaled binary double; a 1996-03 Laspeyres term tied and they
    disagreed). Integer lattice terms then sum exactly.

    The lattice is only exact while |x·1e6| < 2^53 (doubles lose
    integer resolution past that); beyond it the bit-identical
    guarantee would degrade SILENTLY, so the bound is enforced at
    runtime (ADVICE r6) — overflow raises instead of mis-rounding.
    The guard is a per-row branch on the (brand, month)-grain terms
    frame, so its cost is grain-bounded, not fact-bounded."""
    scaled = x * F.lit(1000000.0) + F.lit(0.5)
    return (
        F.when(
            F.abs(scaled) >= F.lit(9007199254740992.0),  # 2^53
            F.raise_error(
                F.lit(
                    "ts_price_index: |term|*1e6 exceeds 2^53 — the FLOOR "
                    "lattice loses bit-identity; coarsen the lattice or "
                    "move the terms to DECIMAL"
                )
            ).cast("double"),
        )
        .otherwise(F.floor(scaled))
        .cast("long")
    )


@query(
    "ts_price_index",
    oracle=f"""
WITH bm AS (
  SELECT p.p_brand AS brand,
         CAST(date_trunc('month', l.l_shipdate) AS DATE) AS month,
         {sql_dsum("l.l_extendedprice")} / {sql_dsum("l.l_quantity")} AS p,
         {sql_dsum("l.l_quantity")} AS q
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
base AS (
  SELECT brand, p AS p0, q AS q0 FROM bm
  WHERE month = (SELECT MIN(month) FROM bm)
),
terms AS (
  SELECT t.month,
         CAST(FLOOR(t.p * b.q0 * 1000000.0 + 0.5) AS BIGINT) AS lnum,
         CAST(FLOOR(b.p0 * b.q0 * 1000000.0 + 0.5) AS BIGINT) AS lden,
         CAST(FLOOR(t.p * t.q * 1000000.0 + 0.5) AS BIGINT) AS pnum,
         CAST(FLOOR(b.p0 * t.q * 1000000.0 + 0.5) AS BIGINT) AS pden
  FROM bm t JOIN base b USING (brand)
),
idx AS (
  SELECT month, CAST(COUNT(*) AS BIGINT) AS n_items,
         100.0 * (CAST(SUM(lnum) AS DOUBLE) / CAST(SUM(lden) AS DOUBLE)) AS laspeyres,
         100.0 * (CAST(SUM(pnum) AS DOUBLE) / CAST(SUM(pden) AS DOUBLE)) AS paasche
  FROM terms GROUP BY month
)
SELECT month, n_items, laspeyres, paasche,
       SQRT(laspeyres * paasche) AS fisher
FROM idx
""",
)
def ts_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite price index per month — Laspeyres (base-period basket),
    Paasche (current basket), and their Fisher geometric mean — the
    canonical downstream product of a market-price feed (the reference
    collects mandi quotations; a published index IS what such feeds
    exist to produce, and no other operator here does index-number
    math). Brand unit prices p = Σ value / Σ quantity per (brand,
    month); the base period is the corpus's first month, and each
    month's basket is the matched sample (brands present in both base
    and that month — the standard matched-model index), so the base
    month itself reads exactly 100 on all three indices (test-pinned).

    Determinism: unit prices are ratios of DECIMAL-exact sums (bitwise);
    the per-brand index terms p·q are single IEEE products snapped to a
    1e-6 INTEGER lattice via FLOOR(x·1e6 + 0.5) — pure IEEE ops, so
    even an exact half-tie resolves identically on both engines where
    engine ROUND() would not (see lat6) — and the integer terms sum
    exactly, so the index ratios and Fisher's correctly-rounded sqrt
    are bitwise identical with no final rounding. The lattice needs
    p·q·1e6 < 2^53 — enforced at runtime by _pi_lat6's raise_error
    guard (ADVICE r6: silent degradation → loud failure); at
    magnitudes beyond that, coarsen the lattice or move the terms to
    DECIMAL.

    Scale shape: one partial-agg pass to (brand, month) grain — grain
    cardinality, not fact size, bounds everything after; the base
    basket is a broadcast; the month aggregation is K=months rows. The
    same plan serves a daily index at 100 TB unchanged."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_quantity"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bm = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", F.col("l_shipdate"))
            .cast("date")
            .alias("month"),
        )
        .agg(
            (
                dsum("l_extendedprice") / dsum("l_quantity")
            ).alias("p"),
            dsum("l_quantity").alias("q"),
        )
    )
    base_month = bm.agg(F.min("month").alias("m0"))
    base = (
        bm.join(F.broadcast(base_month), bm.month == F.col("m0"))
        .select("brand", F.col("p").alias("p0"), F.col("q").alias("q0"))
    )
    terms = bm.join(F.broadcast(base), "brand").select(
        "month",
        _pi_lat6(F.col("p") * F.col("q0")).alias("lnum"),
        _pi_lat6(F.col("p0") * F.col("q0")).alias("lden"),
        _pi_lat6(F.col("p") * F.col("q")).alias("pnum"),
        _pi_lat6(F.col("p0") * F.col("q")).alias("pden"),
    )
    idx = terms.groupBy("month").agg(
        F.count("*").alias("n_items"),
        (
            F.lit(100.0)
            * (F.sum("lnum").cast("double") / F.sum("lden").cast("double"))
        ).alias("laspeyres"),
        (
            F.lit(100.0)
            * (F.sum("pnum").cast("double") / F.sum("pden").cast("double"))
        ).alias("paasche"),
    )
    return idx.select(
        "month",
        "n_items",
        "laspeyres",
        "paasche",
        F.sqrt(F.col("laspeyres") * F.col("paasche")).alias("fisher"),
    )


_TS_SEN_SQL = f"""
WITH bm AS (
  SELECT p.p_brand AS brand,
         CAST(year(l.l_shipdate) * 12 + month(l.l_shipdate) AS BIGINT) AS mi,
         {sql_dsum("l.l_extendedprice")} / {sql_dsum("l.l_quantity")} AS p
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
slopes AS (
  SELECT a.brand,
         (b.p - a.p) / (b.mi - a.mi) AS slope,
         a.mi AS mi1, b.mi AS mi2
  FROM bm a JOIN bm b ON a.brand = b.brand AND a.mi < b.mi
),
ranked AS (
  SELECT brand, slope,
         ROW_NUMBER() OVER (PARTITION BY brand
                            ORDER BY slope, mi1, mi2) AS rn,
         COUNT(*) OVER (PARTITION BY brand) AS n_pairs
  FROM slopes
)
SELECT brand, n_pairs, slope AS sen_slope
FROM ranked
WHERE rn = (n_pairs + 1) // 2
"""


@query("ts_theil_sen", oracle=_TS_SEN_SQL)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per brand: the median of all pairwise
    slopes between monthly unit prices — the estimator that tolerates
    ~29% outliers where ts_trend_ols's least squares breaks on one bad
    month (a mis-keyed mandi quotation, in the reference's terms).
    Unit prices are ratios of exact-DECIMAL sums (bitwise identical);
    each pairwise slope is one IEEE subtraction/division of those
    doubles, so the slope VALUES are engine-identical, and the median
    is selected positionally (lower median, rank = (n+1)//2 over
    slope with the (mi1, mi2) unique tiebreak) — never averaged, so
    no new float op enters and nothing needs rounding.

    Scale: the pairwise join is GRAIN-bounded — pairs form over the
    (brand, month) aggregate (~84 months x 25 brands -> ~3.5k pairs
    per brand), never over fact rows, and the brand key blocks the
    self-join, so cost is months^2 x brands regardless of fact scale.
    At very long histories, swap in the O(n log n) repeated-median
    refinement per brand; months^2 at monthly grain stays trivial for
    decades."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_quantity"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bm = pin(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("bigint")
            .alias("mi"),
        )
        .agg((dsum("l_extendedprice") / dsum("l_quantity")).alias("p")),
        eager=False,
        # r12: bm feeds BOTH sides of the pairwise self-join — without
        # the checkpoint each side re-executed the fact scan + join +
        # month aggregation (2 full passes for a ~brands×months-row
        # frame). Lazy localCheckpoint: one fact pass, the self-join
        # reads the materialized grain frame twice (guide §2.4).
    )
    a, b = bm.alias("a"), bm.alias("b")
    slopes = a.join(
        b,
        (F.col("a.brand") == F.col("b.brand")) & (F.col("a.mi") < F.col("b.mi")),
    ).select(
        F.col("a.brand").alias("brand"),
        ((F.col("b.p") - F.col("a.p")) / (F.col("b.mi") - F.col("a.mi"))).alias(
            "slope"
        ),
        F.col("a.mi").alias("mi1"),
        F.col("b.mi").alias("mi2"),
    )
    w = Window.partitionBy("brand").orderBy("slope", "mi1", "mi2")
    wc = Window.partitionBy("brand")
    ranked = slopes.select(
        "brand",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n_pairs"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(n_pairs + 1) div 2")
    ).select("brand", "n_pairs", F.col("slope").alias("sen_slope"))


_FLAT_SQL = """
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
conv AS (
  SELECT v.user_id, v.t_view,
         MIN(epoch_us(e.ts)) - v.t_view AS delta_us
  FROM v JOIN events e
    ON e.user_id = v.user_id
   AND e.event_type = 'purchase'
   AND epoch_us(e.ts) > v.t_view
  GROUP BY v.user_id, v.t_view
),
ranked AS (
  SELECT t_view // 86400000000 AS cohort_day, user_id, delta_us,
         ROW_NUMBER() OVER (PARTITION BY t_view // 86400000000
                            ORDER BY delta_us, user_id) AS rn,
         COUNT(*) OVER (PARTITION BY t_view // 86400000000) AS nc
  FROM conv
)
SELECT cohort_day,
       MAX(nc) AS n_converters,
       MAX(CASE WHEN rn = (nc + 1) // 2 THEN delta_us END) AS p50_delta_us,
       CAST(SUM(CAST(delta_us AS DECIMAL(30,0))) AS BIGINT) AS sum_delta_us
FROM ranked
GROUP BY cohort_day
"""


@query("win_funnel_latency", oracle=_FLAT_SQL)
def win_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per first-view cohort day: for every
    user, the gap from their FIRST view to the earliest purchase
    strictly after it (win_funnel_steps' no-fake-conversion ordering),
    summarized as converter count, positional lower-median latency,
    and exact total. win_funnel_steps reports WHO converts; this
    reports HOW LONG conversion takes and how that drifts by cohort —
    the other half of every funnel dashboard.

    Determinism: latencies are exact integer microseconds; the median
    is selected positionally (rank (n+1)//2 with a user_id tiebreak),
    never averaged; the sum accumulates in DECIMAL(30,0) — no float
    enters at any point, nothing rounded.

    Scale: two per-user MIN aggregates on the same user_id exchange
    (the funnel chain's layout reuse), then a cohort-day window over
    converter-grain rows — fact rows are touched twice and never
    windowed."""
    ev = load(spark, sf_dir, "events")
    tus = F.unix_micros("ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(tus).alias("t_view"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", tus.alias("t_p"))
        .join(v, "user_id")
        .filter(F.col("t_p") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg((F.min("t_p") - F.col("t_view")).alias("delta_us"))
    )
    cohort = F.expr("t_view div 86400000000")
    wr = Window.partitionBy(cohort).orderBy("delta_us", "user_id")
    wc = Window.partitionBy(cohort)
    ranked = conv.select(
        cohort.alias("cohort_day"),
        "user_id",
        "delta_us",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wc).alias("nc"),
    )
    return ranked.groupBy("cohort_day").agg(
        F.max("nc").alias("n_converters"),
        F.max(
            F.when(F.col("rn") == F.expr("(nc + 1) div 2"), F.col("delta_us"))
        ).alias("p50_delta_us"),
        F.sum(F.col("delta_us").cast("decimal(30,0)"))
        .cast("bigint")
        .alias("sum_delta_us"),
    )


_PERM_R = 20  # relabeling replicates (md5-derived, deterministic)


def _perm_sql(reps: int) -> str:
    """DuckDB twin: the observed A/B mean difference plus `reps`
    md5-relabeled null replicates, all FILTER aggregates in ONE scan
    (the agg_bootstrap_se single-pass shape). Every mean is an
    integer-lattice sum / count ratio — bitwise identical — so the
    |diff_r| >= |diff_obs| indicators and the exact p-value ratio
    need no rounding anywhere."""
    lat = int(_AB_LAT)
    rep_aggs = ",\n".join(
        f"""         CAST(COALESCE(SUM(lv) FILTER (WHERE p{r} = 0), 0) AS BIGINT) AS s{r}_0,
         CAST(COUNT(*) FILTER (WHERE p{r} = 0) AS BIGINT) AS c{r}_0"""
        for r in range(reps)
    )
    diffs = ",\n".join(
        f"""       CASE WHEN c{r}_0 > 0 AND n_all > c{r}_0 THEN
         ABS(CAST(s{r}_0 AS DOUBLE) / {lat} / c{r}_0
             - CAST(s_all - s{r}_0 AS DOUBLE) / {lat} / (n_all - c{r}_0))
       END AS d{r}"""
        for r in range(reps)
    )
    extreme = " + ".join(
        f"CASE WHEN d{r} IS NOT NULL AND d{r} >= ABS(diff_obs) "
        f"THEN 1 ELSE 0 END"
        for r in range(reps)
    )
    return f"""
WITH assigned AS (
  SELECT CASE WHEN CAST(('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)),
                        1, 8)) AS BIGINT) % 2 = 0
              THEN 0 ELSE 1 END AS v,
         CAST(FLOOR(value * {lat}) AS BIGINT) AS lv,
         {", ".join(
    f"CAST(('0x' || substring(md5('perm:{r}:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS p{r}"
    for r in range(reps))}
  FROM events),
g AS (
  SELECT CAST(SUM(lv) AS BIGINT) AS s_all,
         CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(COALESCE(SUM(lv) FILTER (WHERE v = 0), 0) AS BIGINT) AS s_a,
         CAST(COUNT(*) FILTER (WHERE v = 0) AS BIGINT) AS n_a,
{rep_aggs}
  FROM assigned),
d AS (
  SELECT n_a, n_all - n_a AS n_b,
         CASE WHEN n_a > 0 AND n_all > n_a THEN
           CAST(s_a AS DOUBLE) / {lat} / n_a
             - CAST(s_all - s_a AS DOUBLE) / {lat} / (n_all - n_a)
         END AS diff_obs,
         s_all, n_all,
{diffs}
  FROM g)
SELECT n_a, n_b, ROUND(diff_obs, 4) AS diff_obs,
       CAST({extreme} AS BIGINT) AS n_extreme,
       CAST({extreme} AS DOUBLE) / {reps} AS p_value
FROM d"""


@query("agg_permutation_test", oracle=_perm_sql(_PERM_R))
def agg_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization (permutation-style) test for the A/B mean
    difference — the NONPARAMETRIC significance companion to
    agg_ttest_ab's Welch t (no normality or variance assumptions: the
    null distribution is built from the data itself). The observed
    statistic uses the platform's md5 user-level assignment; each of
    the {_PERM_R} null replicates relabels ROWS by an independent
    md5('perm:r:'||event_id) coin — the random-relabeling variant of
    the permutation test (exact label-multiset permutation requires a
    global shuffle-pairing; row relabeling preserves group proportions
    in expectation and is the standard scalable form), and the
    one-sided-in-magnitude p-value is the fraction of replicates at
    least as extreme. All {_PERM_R} replicates are FILTER aggregates
    in ONE scan — the agg_bootstrap_se single-pass discipline; no row
    explosion, no second pass.

    Determinism: every mean is an integer-lattice sum / count ratio
    (bitwise both engines); the extremeness indicators compare those
    bitwise doubles; n_extreme is an integer and p_value the exact
    integer ratio n_extreme/{_PERM_R} (unrounded — CLAUDE.md integer-
    ratio rule). Only the REPORTED diff_obs takes ROUND(4).

    Scale: one hash-bucket partial aggregation producing a single
    ~{2 * _PERM_R + 4}-column row; scalar algebra after. Experiment
    readouts stay scan-bound at any corpus size. r12: the scan rides
    load_parallel — {_PERM_R + 1} md5s per row on a single-file scan
    ran in one task (guide §2.5 input skew; the agg_bootstrap_se
    discipline, which was already parallelized)."""
    from ..tables import load_parallel as _lp

    lat = int(_AB_LAT)
    ev = _lp(spark, sf_dir, "events")

    # r12: all four stages build as PARSED-SQL strings (the ivfpq
    # plan-build-latency rule) — the r11 Column-builder loops issued
    # ~600 py4j round-trips (~1.9 s of the query's 3.1 s median was
    # plan construction). Identical expression trees, same bitwise
    # results.
    def h(tag: str, col: str) -> str:
        return (
            f"CAST(conv(substring(md5(concat('{tag}',"
            f" CAST({col} AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2"
        )

    assigned = ev.selectExpr(
        f"{h('ab:', 'user_id')} AS v",
        f"CAST(FLOOR(value * {lat}) AS BIGINT) AS lv",
        *[f"{h(f'perm:{r}:', 'event_id')} AS p{r}" for r in range(_PERM_R)],
    )
    aggs = [
        "CAST(sum(lv) AS BIGINT) AS s_all",
        "CAST(count(*) AS BIGINT) AS n_all",
        "CAST(coalesce(sum(CASE WHEN v = 0 THEN lv END), 0) AS BIGINT)"
        " AS s_a",
        "CAST(count(CASE WHEN v = 0 THEN 1 END) AS BIGINT) AS n_a",
    ]
    for r in range(_PERM_R):
        aggs.append(
            f"CAST(coalesce(sum(CASE WHEN p{r} = 0 THEN lv END), 0)"
            f" AS BIGINT) AS s{r}_0"
        )
        aggs.append(
            f"CAST(count(CASE WHEN p{r} = 0 THEN 1 END) AS BIGINT)"
            f" AS c{r}_0"
        )
    g = assigned.agg(*[F.expr(a) for a in aggs])
    # an empty arm (every row hashed to one variant — degencheck's
    # 23-row events table does this) has no defined mean difference:
    # NULL on both engines, and the d_r >= |NULL| indicators all
    # evaluate false so n_extreme/p_value stay 0 identically
    diff_obs = (
        "CASE WHEN n_a > 0 AND n_all > n_a THEN"
        f" CAST(s_a AS DOUBLE) / {lat} / n_a"
        f" - CAST(s_all - s_a AS DOUBLE) / {lat} / (n_all - n_a)"
        " ELSE CAST(NULL AS DOUBLE) END"
    )
    d = g.selectExpr(
        "n_a",
        "n_all - n_a AS n_b",
        f"{diff_obs} AS diff_obs",
        "s_all",
        "n_all",
        *[
            f"CASE WHEN c{r}_0 > 0 AND n_all > c{r}_0 THEN"
            f" abs(CAST(s{r}_0 AS DOUBLE) / {lat} / c{r}_0"
            f" - CAST(s_all - s{r}_0 AS DOUBLE) / {lat}"
            f" / (n_all - c{r}_0)) END AS d{r}"
            for r in range(_PERM_R)
        ],
    )
    extreme = " + ".join(
        f"(CASE WHEN d{r} IS NOT NULL AND d{r} >= abs(diff_obs)"
        " THEN 1 ELSE 0 END)"
        for r in range(_PERM_R)
    )
    return d.selectExpr(
        "n_a",
        "n_b",
        "round(diff_obs, 4) AS diff_obs",
        f"CAST({extreme} AS BIGINT) AS n_extreme",
        f"CAST({extreme} AS DOUBLE) / {_PERM_R} AS p_value",
    )


_ATE_BAND = 5   # activity-stratum width (user event count, offset 45)
_ATE_DEN = 14   # treatment odds denominator: P(T|s) = (3+s)/14

_ATE_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_u,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_cents
  FROM events GROUP BY user_id
),
assigned AS (
  SELECT user_id, n_u, sum_cents,
         LEAST(GREATEST((n_u - 45) // {_ATE_BAND}, 0), 9) AS stratum,
         CASE WHEN (CAST(('0x' || substring(md5('ate:' ||
                      CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000)
                   * {_ATE_DEN}
                 < (3 + LEAST(GREATEST((n_u - 45) // {_ATE_BAND}, 0), 9))
                   * 1000
              THEN 1 ELSE 0 END AS t
  FROM per_user
)
SELECT stratum,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(t) AS BIGINT) AS n_treat,
       CAST(SUM(CASE WHEN t = 1 THEN n_u ELSE 0 END) AS BIGINT) AS n_ev_t,
       CAST(SUM(CASE WHEN t = 0 THEN n_u ELSE 0 END) AS BIGINT) AS n_ev_c,
       CAST(SUM(CASE WHEN t = 1 THEN sum_cents ELSE 0 END) AS DOUBLE)
         / NULLIF(SUM(CASE WHEN t = 1 THEN n_u ELSE 0 END), 0) / 100
         AS mean_treat,
       CAST(SUM(CASE WHEN t = 0 THEN sum_cents ELSE 0 END) AS DOUBLE)
         / NULLIF(SUM(CASE WHEN t = 0 THEN n_u ELSE 0 END), 0) / 100
         AS mean_ctrl
FROM assigned
GROUP BY stratum
"""


@query("ml_ate_stratified", oracle=_ATE_SQL)
def ml_ate_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified average-treatment-effect table — the OBSERVATIONAL
    causal-adjustment member beside the randomized-experiment readouts
    (agg_ttest_ab / agg_permutation_test assume the assignment was
    fair; real telemetry's 'treatment' correlates with activity, and
    the naive treated-vs-control difference is then confounded).
    Users stratify by activity (event-count bands) and the treatment
    indicator is a deterministic md5 draw whose RATE RISES WITH THE
    STRATUM — a planted confound standing in for self-selection; the
    per-stratum means remove exactly that confound, and ATE =
    Σ_s w_s·(mean_t(s) − mean_c(s)) (assembled by the caller from the
    long form — the planted test pins that the stratified estimate
    recovers a known effect the naive difference misstates).
    Stratification on a discrete propensity IS inverse-propensity
    weighting with the within-stratum empirical propensity — the
    estimator every experimentation platform ships as 'segmented
    lift'.

    Determinism: per-user totals ride the cents lattice; strata and
    the treatment draw are pure integer arithmetic (the threshold
    compare is cross-multiplied — no 1/14 double); arm means are
    single divisions of exact BIGINTs — unrounded integer-ratio
    doubles; an empty arm yields NULL on both engines (NULLIF).

    Scale: one partial-agg pass to per-user totals (the only
    fact-sized shuffle), then a 10-key stratum agg — the
    agg_jackknife_ci shape with a causal head."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_u"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
    )
    stratum = F.least(
        F.greatest(F.expr(f"(n_u - 45) div {_ATE_BAND}"), F.lit(0)),
        F.lit(9),
    ).cast("bigint")
    draw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ate:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    assigned = per_user.select(
        "n_u",
        "sum_cents",
        stratum.alias("stratum"),
        F.when(draw * _ATE_DEN < (3 + stratum) * 1000, 1)
        .otherwise(0)
        .alias("t"),
    )
    t_ev = F.sum(F.when(F.col("t") == 1, F.col("n_u")).otherwise(0)).cast(
        "bigint"
    )
    c_ev = F.sum(F.when(F.col("t") == 0, F.col("n_u")).otherwise(0)).cast(
        "bigint"
    )
    t_sum = F.sum(
        F.when(F.col("t") == 1, F.col("sum_cents")).otherwise(0)
    ).cast("double")
    c_sum = F.sum(
        F.when(F.col("t") == 0, F.col("sum_cents")).otherwise(0)
    ).cast("double")
    return assigned.groupBy("stratum").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("t").cast("bigint").alias("n_treat"),
        t_ev.alias("n_ev_t"),
        c_ev.alias("n_ev_c"),
        (t_sum / F.nullif(t_ev, F.lit(0)) / 100).alias("mean_treat"),
        (c_sum / F.nullif(c_ev, F.lit(0)) / 100).alias("mean_ctrl"),
    )


# ---------------------------------------------------------------------------
# Mutual information between two categorical columns (feature relevance)

_MI_RF = ("A", "N", "R")   # l_returnflag values (TPC-H-fixed enum)
_MI_LS = ("F", "O")        # l_linestatus values


def _mi_sql() -> str:
    """DuckDB twin: the same 6 named cell counts in one row (the
    agg_chi2_independence pattern), then MI/H from the identity
    N·MI = xlnx(N) + Σ xlnx(c_xy) − Σ xlnx(row) − Σ xlnx(col) as a
    fixed-order literal expression tree — identical IEEE/libm calls on
    identical integers, ROUND(6) on the transcendental outputs."""

    def xlnx(c: str) -> str:
        return f"(CASE WHEN {c} > 0 THEN {c} * ln(CAST({c} AS DOUBLE)) ELSE 0.0 END)"

    cells = ",\n       ".join(
        f"CAST(SUM(CASE WHEN l_returnflag = '{x}' AND l_linestatus = '{y}'"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS c_{x}_{y}"
        for x in _MI_RF
        for y in _MI_LS
    )
    rows = {x: " + ".join(f"c_{x}_{y}" for y in _MI_LS) for x in _MI_RF}
    cols = {y: " + ".join(f"c_{x}_{y}" for x in _MI_RF) for y in _MI_LS}
    n = " + ".join(f"c_{x}_{y}" for x in _MI_RF for y in _MI_LS)
    sum_cells = " + ".join(xlnx(f"c_{x}_{y}") for x in _MI_RF for y in _MI_LS)
    sum_rows = " + ".join(xlnx(f"({rows[x]})") for x in _MI_RF)
    sum_cols = " + ".join(xlnx(f"({cols[y]})") for y in _MI_LS)
    return f"""
WITH cells AS (
  SELECT {cells}
  FROM lineitem
),
w AS (SELECT *, CAST(({n}) AS BIGINT) AS n FROM cells),
m AS (
  SELECT n,
         CASE WHEN n > 0 THEN
           ({xlnx('n')} + ({sum_cells}) - ({sum_rows}) - ({sum_cols})) / n
         ELSE 0.0 END AS mi,
         CASE WHEN n > 0 THEN ({xlnx('n')} - ({sum_rows})) / n
         ELSE 0.0 END AS h_x,
         CASE WHEN n > 0 THEN ({xlnx('n')} - ({sum_cols})) / n
         ELSE 0.0 END AS h_y
  FROM w)
SELECT n, ROUND(m.mi, 6) AS mi, ROUND(m.h_x, 6) AS h_x,
       ROUND(m.h_y, 6) AS h_y,
       CASE WHEN m.h_x > 0 AND m.h_y > 0
            THEN ROUND(m.mi / sqrt(m.h_x * m.h_y), 6) END AS nmi
FROM m
"""


@query("ml_mutual_info", oracle=_mi_sql())
def ml_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between return flag and line status,
    with marginal entropies and normalized MI — the FEATURE-RELEVANCE
    member of the dependence family: agg_corr_covar sees only LINEAR
    numeric association, agg_chi2_independence tests H₀ yes/no, while
    MI measures the strength of ANY categorical dependence on a
    [0, min(H_X, H_Y)] scale — the standard feature-selection score
    (and the filter a training pipeline runs before one-hot-encoding
    a high-cardinality column; ml_woe_iv is its supervised binary
    sibling). NMI = MI/√(H_X·H_Y) rescales to [0,1].

    Determinism: the 6 cell counts are exact BIGINTs as NAMED columns
    of one aggregation row, and N·MI = xlnx(N) + Σxlnx(cell) −
    Σxlnx(row) − Σxlnx(col) is a literal fixed-order expression tree
    over them (the chi2 rule — no aggregation of ln terms, so no
    cross-engine fold-order drift); ln is libm → ROUND(6) on every
    emitted statistic. Degenerate guards both sides: empty table →
    MI/H = 0 (xlnx(0) = 0 by the CASE), a constant column (H = 0,
    degencheck's all-'O' linestatus) → NMI NULL, never a divide
    error.

    Scale: one partial-aggregable scan into 6 conditional counts plus
    scalar algebra — the cheapest dependence measure at any SF (the
    chi2 shape). Open-ended category sets swap the named cells for a
    (x, y) groupBy and an xlnx aggregation with ROUND — same plan,
    one more exchange."""
    li = load(spark, sf_dir, "lineitem")
    cells = li.agg(
        *[
            F.sum(
                F.when(
                    (F.col("l_returnflag") == x) & (F.col("l_linestatus") == y),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"c_{x}_{y}")
            for x in _MI_RF
            for y in _MI_LS
        ]
    )

    def xlnx(c):
        return F.when(c > 0, c * F.log(c.cast("double"))).otherwise(F.lit(0.0))

    n = None
    for x in _MI_RF:
        for y in _MI_LS:
            c = F.col(f"c_{x}_{y}")
            n = c if n is None else n + c
    w = cells.withColumn("n", n.cast("long"))
    rows = {
        x: sum(F.col(f"c_{x}_{y}") for y in _MI_LS[1:]) + F.col(f"c_{x}_{_MI_LS[0]}")
        for x in _MI_RF
    }
    cols = {
        y: sum(F.col(f"c_{x}_{y}") for x in _MI_RF[1:]) + F.col(f"c_{_MI_RF[0]}_{y}")
        for y in _MI_LS
    }
    sum_cells = None
    for x in _MI_RF:
        for y in _MI_LS:
            t = xlnx(F.col(f"c_{x}_{y}"))
            sum_cells = t if sum_cells is None else sum_cells + t
    sum_rows = None
    for x in _MI_RF:
        t = xlnx(rows[x])
        sum_rows = t if sum_rows is None else sum_rows + t
    sum_cols = None
    for y in _MI_LS:
        t = xlnx(cols[y])
        sum_cols = t if sum_cols is None else sum_cols + t
    nn = F.col("n")
    mi = F.when(
        nn > 0, (xlnx(nn) + sum_cells - sum_rows - sum_cols) / nn
    ).otherwise(F.lit(0.0))
    h_x = F.when(nn > 0, (xlnx(nn) - sum_rows) / nn).otherwise(F.lit(0.0))
    h_y = F.when(nn > 0, (xlnx(nn) - sum_cols) / nn).otherwise(F.lit(0.0))
    m = w.select(
        "n", mi.alias("mi_raw"), h_x.alias("hx_raw"), h_y.alias("hy_raw")
    )
    return m.select(
        "n",
        F.round("mi_raw", 6).alias("mi"),
        F.round("hx_raw", 6).alias("h_x"),
        F.round("hy_raw", 6).alias("h_y"),
        F.when(
            (F.col("hx_raw") > 0) & (F.col("hy_raw") > 0),
            F.round(
                F.col("mi_raw") / F.sqrt(F.col("hx_raw") * F.col("hy_raw")), 6
            ),
        ).alias("nmi"),
    )


# ---------------------------------------------------------------------------
# Theil inequality index with between/within decomposition

_THEIL_SQL = f"""
WITH g AS (
  SELECT p_brand AS grp, CAST(COUNT(*) AS BIGINT) AS ng,
         SUM(CAST(l_extendedprice AS {DEC})) AS sg
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n, SUM(sg) AS s FROM g
),
mu AS (
  SELECT g.grp, g.ng, t.n,
         CAST(g.sg AS DOUBLE) / g.ng AS mug,
         CAST(t.s AS DOUBLE) / t.n AS mu
  FROM g, tot t
),
rowterms AS (
  SELECT m.grp,
         CAST(SUM(CAST(FLOOR(
           CASE WHEN l.l_extendedprice > 0 AND m.mug > 0 THEN
             (l.l_extendedprice / m.mug) * ln(l.l_extendedprice / m.mug)
           ELSE 0.0 END * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS ltg,
         CAST(SUM(CAST(FLOOR(
           CASE WHEN l.l_extendedprice > 0 AND m.mu > 0 THEN
             (l.l_extendedprice / m.mu) * ln(l.l_extendedprice / m.mu)
           ELSE 0.0 END * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS ltt
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN mu m ON m.grp = p.p_brand
  GROUP BY 1
),
per_grp AS (
  SELECT m.grp, m.ng, m.n, m.mug, m.mu,
         CAST(r.ltg AS DOUBLE) / 1e9 / m.ng AS tg,
         r.ltt AS ltt
  FROM mu m JOIN rowterms r ON r.grp = m.grp
),
lat AS (
  SELECT
    CAST(SUM(CAST(FLOOR(
      (CAST(ng AS DOUBLE) / n) * (CASE WHEN mu > 0 THEN mug / mu ELSE 0.0 END)
      * tg * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS within_lat,
    CAST(SUM(CAST(FLOOR(
      CASE WHEN mu > 0 AND mug > 0 THEN
        (CAST(ng AS DOUBLE) / n) * (mug / mu) * ln(mug / mu)
      ELSE 0.0 END * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS between_lat,
    CAST(SUM(ltt) AS BIGINT) AS ltt_lat,
    MAX(n) AS n
  FROM per_grp
)
SELECT component, CAST(n AS BIGINT) AS n, ROUND(value, 6) AS theil
FROM (
  SELECT 'total' AS component, n,
         CAST(ltt_lat AS DOUBLE) / 1e9 / n AS value FROM lat
  UNION ALL
  SELECT 'within', n, CAST(within_lat AS DOUBLE) / 1e12 FROM lat
  UNION ALL
  SELECT 'between', n, CAST(between_lat AS DOUBLE) / 1e12 FROM lat
) t
"""


@query("agg_theil_decomposition", oracle=_THEIL_SQL)
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of line revenue with the between-brand /
    within-brand decomposition — the capability agg_gini LACKS: Gini is
    not group-decomposable (its between/within split leaves an overlap
    residual), while Theil's T = T_between + Σ wg·T_within,g EXACTLY,
    so 'is price inequality driven by brand mix or within-brand
    dispersion' has a well-posed answer (the GE(1) member of the
    generalized-entropy family; the identity is a pinned test, not a
    claim). Emits three rows: total, within, between.

    Determinism: every per-row term (x/μ)·ln(x/μ) is one IEEE
    expression over identical doubles (group means from exact-DECIMAL
    sums), snapped to a FLOOR(t·1e9 + 0.5) BIGINT lattice — per-group
    sums are order-independent exact integers; the ~|brands|-row
    between/within reductions snap the same way at 1e12; only the
    emitted index takes ROUND(6) (per-row ln is libm). Guards both
    engines: x ≤ 0 or a zero mean contributes 0 (lim x→0 x·ln x = 0,
    degencheck's constant/zero fixtures), no unguarded division.
    Headroom: row terms ≤ ~1e11 each — the BIGINT sum holds to ~1e8
    rows per group; past that drop the row lattice to 1e6 or sum
    DECIMAL(38,0) (ANSI fails loudly until then).

    Scale: two fact scans (one for group moments, one for row terms —
    both partial-aggregable, part dim broadcast both times), then
    scalar algebra on the brand-grain frame. The decomposition never
    shuffles more than |brands| rows."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    x = F.col("l_extendedprice")
    facts = li.join(
        F.broadcast(p.select("p_partkey", F.col("p_brand").alias("grp"))),
        li.l_partkey == F.col("p_partkey"),
    )
    g = facts.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("ng"),
        F.sum(x.cast(DEC)).alias("sg"),
    )
    tot = g.agg(
        F.sum("ng").cast("bigint").alias("n"), F.sum("sg").alias("s")
    )
    # brand-grain frame; feeds the row scan AND the final reductions —
    # one group-moment pass total
    mu = pin(
        g.join(F.broadcast(tot)).select(
            "grp",
            "ng",
            "n",
            (F.col("sg").cast("double") / F.col("ng")).alias("mug"),
            (F.col("s").cast("double") / F.col("n")).alias("mu"),
        )
    )

    def lat_term(mean_col: str) -> Column:
        m = F.col(mean_col)
        return F.floor(
            F.when((x > 0) & (m > 0), (x / m) * F.log(x / m))
            .otherwise(F.lit(0.0))
            * 1e9
            + F.lit(0.5)
        ).cast("bigint")

    rowterms = (
        facts.join(F.broadcast(mu.select("grp", "mug", "mu")), "grp")
        .select("grp", lat_term("mug").alias("ltg"), lat_term("mu").alias("ltt"))
        .groupBy("grp")
        .agg(
            F.sum("ltg").cast("bigint").alias("ltg"),
            F.sum("ltt").cast("bigint").alias("ltt"),
        )
    )
    per_grp = mu.join(rowterms, "grp").select(
        "grp",
        "ng",
        "n",
        "mug",
        "mu",
        (F.col("ltg").cast("double") / 1e9 / F.col("ng")).alias("tg"),
        "ltt",
    )
    wg = F.col("ng").cast("double") / F.col("n")
    within_lat = F.sum(
        F.floor(
            wg
            * F.when(F.col("mu") > 0, F.col("mug") / F.col("mu")).otherwise(
                F.lit(0.0)
            )
            * F.col("tg")
            * 1e12
            + F.lit(0.5)
        ).cast("bigint")
    ).cast("bigint")
    between_lat = F.sum(
        F.floor(
            F.when(
                (F.col("mu") > 0) & (F.col("mug") > 0),
                wg * (F.col("mug") / F.col("mu"))
                * F.log(F.col("mug") / F.col("mu")),
            ).otherwise(F.lit(0.0))
            * 1e12
            + F.lit(0.5)
        ).cast("bigint")
    ).cast("bigint")
    lat = pin(per_grp.agg(
        within_lat.alias("within_lat"),
        between_lat.alias("between_lat"),
        F.sum("ltt").cast("bigint").alias("ltt_lat"),
        F.max("n").alias("n"),
    ))  # 1 row; referenced by three outputs
    parts = [
        lat.select(
            F.lit("total").alias("component"),
            F.col("n").cast("bigint").alias("n"),
            F.round(
                F.col("ltt_lat").cast("double") / 1e9 / F.col("n"), 6
            ).alias("theil"),
        ),
        lat.select(
            F.lit("within").alias("component"),
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("within_lat").cast("double") / 1e12, 6).alias(
                "theil"
            ),
        ),
        lat.select(
            F.lit("between").alias("component"),
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("between_lat").cast("double") / 1e12, 6).alias(
                "theil"
            ),
        ),
    ]
    out = parts[0]
    for pp in parts[1:]:
        out = out.unionByName(pp)
    return out


# Kendall tau-b rank correlation with ties, via the joint value lattice

_KENDALL_SQL = """
WITH cells AS MATERIALIZED (
  SELECT l_returnflag AS rf,
         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x,
         CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS f
  FROM lineitem GROUP BY 1, 2, 3
),
pairs AS (
  SELECT a.rf,
         CAST(SUM(CASE WHEN a.y < b.y THEN a.f * b.f ELSE 0 END)
              AS BIGINT) AS conc,
         CAST(SUM(CASE WHEN a.y > b.y THEN a.f * b.f ELSE 0 END)
              AS BIGINT) AS disc
  FROM cells a JOIN cells b ON a.rf = b.rf AND a.x < b.x
  GROUP BY 1
),
txs AS (
  SELECT rf, CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n1
  FROM (SELECT rf, x, SUM(f) AS t FROM cells GROUP BY 1, 2) GROUP BY 1
),
tys AS (
  SELECT rf, CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n2
  FROM (SELECT rf, y, SUM(f) AS t FROM cells GROUP BY 1, 2) GROUP BY 1
),
tot AS (
  SELECT rf, CAST(SUM(f) AS BIGINT) AS n,
         CAST(SUM(f) * (SUM(f) - 1) // 2 AS BIGINT) AS n0
  FROM cells GROUP BY 1
)
SELECT t.rf, t.n,
       COALESCE(p.conc, 0) AS concordant,
       COALESCE(p.disc, 0) AS discordant,
       x.n1 AS ties_x, y.n2 AS ties_y,
       CASE WHEN t.n0 > x.n1 AND t.n0 > y.n2 THEN
         ROUND(CAST(COALESCE(p.conc, 0) - COALESCE(p.disc, 0) AS DOUBLE)
               / (sqrt(CAST(t.n0 - x.n1 AS DOUBLE))
                  * sqrt(CAST(t.n0 - y.n2 AS DOUBLE))), 6)
       END AS tau_b
FROM tot t
JOIN txs x ON x.rf = t.rf
JOIN tys y ON y.rf = t.rf
LEFT JOIN pairs p ON p.rf = t.rf
"""


@query("agg_kendall_tau", oracle=_KENDALL_SQL)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation (with tie correction) between
    quantity and discount per return flag — the RANK member of the
    dependence family: agg_corr_covar is linear (Pearson),
    ml_mutual_info is categorical, and tau-b captures MONOTONE
    association on heavily tied discrete columns, which is what a
    feature-screening pass actually wants on lattice-valued features
    (where Pearson is distorted by marginal shape and ties).

    Never O(n^2) over rows: both columns live on saturating value
    lattices (quantity 1..50, discount 0..10 cents), so pair counting
    collapses onto the joint-cell frame — concordant/discordant counts
    are cell-pair products Σ f(x,y)·f(x',y') over x<x' (≤ (50·11)^2/2
    cell pairs, a CONSTANT independent of corpus size), and the tie
    terms n1/n2 come from the marginal counts. tau_b =
    (C−D)/(√(n0−n1)·√(n0−n2)) with n0 = n(n−1)/2.

    Determinism: every count is an exact BIGINT (integer `div` for the
    halvings — nonneg, so Spark div == DuckDB //); C−D and the two
    radicands convert to DOUBLE exactly below 2^53 (headroom: n ≈ 1e8
    rows per group — past that, bin the lattice or rescale; ANSI
    overflow fails loudly first). sqrt/division are IEEE
    correctly-rounded on identical inputs, ROUND(6) caps the
    measure-zero tie risk. Zero-variance guard BOTH sides (degencheck's
    constant-column fixture): n0 <= n1 or n0 <= n2 -> NULL.

    Scale: one fact scan into a partial-aggable (rf, x, y) groupBy;
    the cell self-join is equi on rf with lattice-bounded sides —
    broadcastable, shuffle-free on the fact."""
    li = load(spark, sf_dir, "lineitem")
    cells = pin(  # feeds pairs, margins, totals
        li.groupBy(
            F.col("l_returnflag").alias("rf"),
            F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("x"),
            F.floor(F.col("l_discount") * 100 + 0.5)
            .cast("bigint")
            .alias("y"),
        )
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    a = cells.select(
        F.col("rf"), F.col("x"), F.col("y").alias("ya"), F.col("f").alias("fa")
    )
    b = cells.select(
        F.col("rf").alias("rfb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("f").alias("fb"),
    )
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("rf") == F.col("rfb")) & (F.col("x") < F.col("xb")),
        )
        .groupBy("rf")
        .agg(
            F.sum(
                F.when(F.col("ya") < F.col("yb"), F.col("fa") * F.col("fb"))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("conc"),
            F.sum(
                F.when(F.col("ya") > F.col("yb"), F.col("fa") * F.col("fb"))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("disc"),
        )
    )
    half = lambda c: F.expr(f"{c} * ({c} - 1) div 2")  # noqa: E731
    txs = (
        cells.groupBy("rf", "x")
        .agg(F.sum("f").alias("t"))
        .groupBy("rf")
        .agg(F.sum(half("t")).cast("bigint").alias("n1"))
    )
    tys = (
        cells.groupBy("rf", "y")
        .agg(F.sum("f").alias("t"))
        .groupBy("rf")
        .agg(F.sum(half("t")).cast("bigint").alias("n2"))
    )
    tot = cells.groupBy("rf").agg(
        F.sum("f").cast("bigint").alias("n"),
        F.expr("sum(f) * (sum(f) - 1) div 2").cast("bigint").alias("n0"),
    )
    conc = F.coalesce(F.col("conc"), F.lit(0)).cast("bigint")
    disc = F.coalesce(F.col("disc"), F.lit(0)).cast("bigint")
    tau = F.when(
        (F.col("n0") > F.col("n1")) & (F.col("n0") > F.col("n2")),
        F.round(
            (conc - disc).cast("double")
            / (
                F.sqrt((F.col("n0") - F.col("n1")).cast("double"))
                * F.sqrt((F.col("n0") - F.col("n2")).cast("double"))
            ),
            6,
        ),
    )
    return (
        tot.join(F.broadcast(txs), "rf")
        .join(F.broadcast(tys), "rf")
        .join(F.broadcast(pairs), "rf", "left")
        .select(
            "rf",
            "n",
            conc.alias("concordant"),
            disc.alias("discordant"),
            F.col("n1").alias("ties_x"),
            F.col("n2").alias("ties_y"),
            tau.alias("tau_b"),
        )
    )


# Benjamini-Hochberg FDR control over per-brand two-arm z-tests

# 1 - erf(x) via Abramowitz & Stegun 7.1.26 (|eps| <= 1.5e-7): a pure
# literal polynomial * exp(-x^2) — identical IEEE arithmetic in both
# engines; two-sided p = (1 - erf(|z|/sqrt(2))), ROUND(6) before any
# BH comparison. sqrt(2) is embedded as its exact double literal.
_BH_ALPHA = "0.10"
_SQRT2 = "1.4142135623730951"


def _bh_p_expr(z: str) -> str:
    x = f"(ABS({z}) / {_SQRT2})"
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    poly = (
        f"(((((1.061405429 * {t} - 1.453152027) * {t} + 1.421413741)"
        f" * {t} - 0.284496736) * {t} + 0.254829592) * {t})"
    )
    return f"ROUND({poly} * EXP(-({x} * {x})), 6)"


_FDR_SQL = f"""
WITH lv AS (
  SELECT p.p_brand AS brand, l.l_returnflag AS arm,
         CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_returnflag IN ('R', 'N')
),
g AS (
  SELECT brand, arm, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS sv,
         SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS sq
  FROM lv GROUP BY 1, 2
),
stats AS (
  SELECT brand, arm, n,
         CAST(sv AS DOUBLE) / 100 / n AS mean,
         GREATEST((CAST(sq AS DOUBLE) / 10000
                   - (CAST(sv AS DOUBLE) / 100)
                     * (CAST(sv AS DOUBLE) / 100) / n) / (n - 1),
                  0) AS var
  FROM g WHERE n > 1
),
w AS (
  SELECT r.brand, r.n AS n_r, nn.n AS n_n,
         CASE WHEN r.var / r.n + nn.var / nn.n > 0
              THEN (r.mean - nn.mean)
                   / sqrt(r.var / r.n + nn.var / nn.n) END AS z
  FROM (SELECT * FROM stats WHERE arm = 'R') r
  JOIN (SELECT * FROM stats WHERE arm = 'N') nn ON nn.brand = r.brand
),
pv AS (
  SELECT brand, n_r, n_n, ROUND(z, 4) AS z_stat, {_bh_p_expr('z')} AS p
  FROM w WHERE z IS NOT NULL
),
ranked AS MATERIALIZED (
  SELECT brand, n_r, n_n, z_stat, p,
         ROW_NUMBER() OVER (ORDER BY p, brand) AS rk,
         COUNT(*) OVER () AS m
  FROM pv
),
kk AS (
  SELECT COALESCE(MAX(CASE WHEN p <= rk * {_BH_ALPHA} / m THEN rk END), 0)
         AS kstar
  FROM ranked
)
SELECT r.brand, r.n_r, r.n_n, r.z_stat, r.p AS p_value,
       CAST(r.rk AS BIGINT) AS bh_rank, CAST(r.m AS BIGINT) AS m_tests,
       CAST(CASE WHEN r.rk <= k.kstar THEN 1 ELSE 0 END AS BIGINT)
         AS rejected
FROM ranked r, kk k
"""


@query("agg_fdr_bh", oracle=_FDR_SQL)
def agg_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over a FAMILY
    of hypothesis tests — the MULTIPLE-TESTING member of the inference
    family: agg_ttest_ab / agg_permutation_test read ONE comparison,
    but a screening pass (which brands moved? which features matter?)
    runs dozens at once and naive per-test alpha inflates false
    positives; BH (1995) rejects the k* smallest p-values where
    p_(k) <= k*alpha/m, controlling FDR at alpha = 0.10. Tests
    here: per-brand returned-vs-kept (R vs N) price z-tests from
    integer-lattice power sums (the agg_ttest_ab discipline; Welch df
    is thousands at every SF, so the normal tail is the right
    reference).

    Determinism: moments are exact cent-lattice BIGINT / DECIMAL(38,0)
    sums, so z is bit-identical; the normal tail 1 - erf(|z|/sqrt2)
    uses the A&S 7.1.26 literal polynomial x exp(-x^2) — identical
    arithmetic both engines, ROUND(6) BEFORE the BH comparisons (the
    transcendental-rounds-precede-comparison rule; exp ulp drift is
    measure-zero against the 1e-6 lattice). The BH walk is a
    row_number + count + max over the <=|brands|-row p-value frame
    (GLOBAL_WINDOW_OK: brand grain); the 1-row k* frame broadcasts
    (NESTED_LOOP_OK). Guards (degencheck): single-row or
    zero-variance arms and missing arms are untestable -> excluded
    before ranking (m counts real tests only).

    Scale: one fact scan into a (brand, arm) partial agg; everything
    after is algebra on the brand-grain frame."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    v = F.floor(F.col("l_extendedprice") * 100).cast("long")
    g = pin(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            F.col("l_returnflag").alias("arm"),
            v.alias("v"),
        )
        .groupBy("brand", "arm")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("sv"),
            F.sum(
                F.col("v").cast("decimal(19,0)")
                * F.col("v").cast("decimal(19,0)")
            ).alias("sq"),
        )
        .filter(F.col("n") > 1),
        eager=False,
        # r12: the (brand, arm) moment frame feeds BOTH the R and the N
        # branch of the downstream join — without the checkpoint each
        # branch re-executed the fact scan + broadcast join + partial
        # agg (2 full passes for a ~|brands|×2-row frame). Lazy
        # localCheckpoint: one fact pass (guide §2.4).
    )
    mean = F.col("sv").cast("double") / 100 / F.col("n")
    var = F.greatest(
        (
            F.col("sq").cast("double") / 10000
            - (F.col("sv").cast("double") / 100)
            * (F.col("sv").cast("double") / 100)
            / F.col("n")
        )
        / (F.col("n") - 1),
        F.lit(0.0),
    )
    stats = g.select("brand", "arm", "n", mean.alias("mean"), var.alias("var"))
    r = stats.filter(F.col("arm") == "R").select(
        "brand",
        F.col("n").alias("n_r"),
        F.col("mean").alias("mean_r"),
        (F.col("var") / F.col("n")).alias("vr"),
    )
    nn = stats.filter(F.col("arm") == "N").select(
        F.col("brand").alias("brand_n"),
        F.col("n").alias("n_n"),
        F.col("mean").alias("mean_n"),
        (F.col("var") / F.col("n")).alias("vn"),
    )
    vsum = F.col("vr") + F.col("vn")
    z = F.when(
        vsum > 0, (F.col("mean_r") - F.col("mean_n")) / F.sqrt(vsum)
    )
    pv = (
        r.join(F.broadcast(nn), F.col("brand") == F.col("brand_n"))
        .select(
            "brand",
            "n_r",
            "n_n",
            z.alias("z"),
        )
        .filter(F.col("z").isNotNull())
        .select(
            "brand",
            "n_r",
            "n_n",
            F.round("z", 4).alias("z_stat"),
            F.expr(_bh_p_expr("z")).alias("p"),
        )
    )
    ranked = pin(pv.select(
        "brand",
        "n_r",
        "n_n",
        "z_stat",
        "p",
        F.row_number().over(Window.orderBy("p", "brand")).alias("rk"),
        F.count("*").over(Window.partitionBy()).alias("m"),
    ))  # feeds the k* scan AND the output
    alpha = float(_BH_ALPHA)
    kk = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p") <= F.col("rk") * alpha / F.col("m"),
                    F.col("rk"),
                )
            ),
            F.lit(0),
        ).alias("kstar")
    )
    return ranked.join(F.broadcast(kk)).select(
        "brand",
        "n_r",
        "n_n",
        "z_stat",
        F.col("p").alias("p_value"),
        F.col("rk").cast("bigint").alias("bh_rank"),
        F.col("m").cast("bigint").alias("m_tests"),
        F.when(F.col("rk") <= F.col("kstar"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("rejected"),
    )


# First-order Markov chain over per-user event sequences

_MKV_ROUNDS = 6
_MKV_UNIT = 1_000_000


def _markov_sql(rounds: int) -> str:
    """DuckDB twin: the stationary power iteration unrolled into a
    MATERIALIZED CTE chain (each p{i} is joined by the next round —
    the graph_kcore MATERIALIZED-loop rule). All-integer message
    arithmetic; `//` floors but every term is nonnegative, so it
    agrees with Spark's truncating `div`."""
    ctes = [
        """seq AS (
  SELECT event_type AS ft,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS tt
  FROM events)""",
        """tr AS MATERIALIZED (
  SELECT ft, tt, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE tt IS NOT NULL GROUP BY 1, 2)""",
        "outd AS MATERIALIZED (SELECT ft, SUM(c) AS o FROM tr GROUP BY 1)",
        "st AS (SELECT DISTINCT event_type AS s FROM events)",
        f"p0 AS (SELECT s, CAST({_MKV_UNIT} AS BIGINT) AS pu FROM st)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""p{i} AS MATERIALIZED (
  SELECT n.s, CAST(COALESCE(SUM((p.pu * t.c) // o.o), 0) AS BIGINT) AS pu
  FROM st n
  LEFT JOIN tr t ON t.tt = n.s
  LEFT JOIN p{i - 1} p ON p.s = t.ft
  LEFT JOIN outd o ON o.ft = t.ft
  GROUP BY n.s)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT t.ft AS from_type, t.tt AS to_type, t.c AS n_trans,
       CAST(t.c AS DOUBLE) / o.o AS prob,
       p.pu AS stat_from_u,
       CAST(p.pu AS DOUBLE) / {_MKV_UNIT} AS stat_from
FROM tr t
JOIN outd o ON o.ft = t.ft
JOIN p{rounds} p ON p.s = t.ft"""
    )


@query("ml_markov_chain", oracle=_markov_sql(_MKV_ROUNDS))
def ml_markov_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov chain over per-user event sequences — the
    SEQUENCE-model member of the behavioral family: win_event_pattern
    matches one fixed motif and win_funnel_steps one fixed order,
    while the Markov transition matrix models ALL pairwise dynamics at
    once (the standard clickstream/user-journey model), and its
    stationary distribution says where the process spends its time in
    the long run — the model a curation pipeline uses to score
    session plausibility or synthesize negative sequences.

    Long-form output: one row per observed (from_type → to_type)
    transition with its count, row-normalized probability (exact
    integer-ratio double — unrounded per the CLAUDE.md rule), and the
    from-state's stationary mass after {_MKV_ROUNDS} lattice power
    rounds: π' = π·P evaluated as per-edge exact floor terms
    (π_u·c_uv) div out_u — nonnegative BIGINTs, so truncating div and
    flooring // agree and every round is bit-identical across engines
    (the graph_pagerank discipline; floor leakage per round is < |E|
    micro-units, identically on both engines). States with no
    out-transitions absorb nothing and leak their mass — documented,
    same both engines.

    Scale: the LEAD window partitions by user_id — high-cardinality,
    perfectly parallel, each partition a bounded session; transitions
    aggregate to the |types|² grain (saturating) in ONE fact pass
    (null-successor rows kept through the groupBy so the state
    universe falls out of the same aggregate — every event is exactly
    one row's ft, so DISTINCT ft over it equals DISTINCT event_type;
    the r11 form paid a second fact pass for that distinct). The
    |types|²-grain iteration then folds to one row and all
    {_MKV_ROUNDS} power rounds run as ONE array-aggregate expression —
    the ts_croston O(1)-carried-state discipline; r12 measured the
    per-round-checkpoint loop at 42 driver jobs / ~2.0 s vs ~0.9 s
    folded, same exact integers (per-edge floor terms summed per
    target state, empty inbox → 0, as before)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("ft"),
        F.lead("event_type").over(w).alias("tt"),
    )
    trn = pin(  # feeds tr, outd, and the states
        seq.groupBy("ft", "tt")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    tr = trn.filter(F.col("tt").isNotNull())
    outd = tr.groupBy("ft").agg(F.sum("c").alias("o"))
    nd_row = trn.select(F.col("ft").alias("s")).distinct().agg(
        F.expr("sort_array(collect_list(s))").alias("nd")
    )
    es_row = (
        tr.join(outd, "ft")
        .crossJoin(F.broadcast(nd_row))
        .select(
            F.expr("CAST(array_position(nd, ft) AS INT)").alias("fi"),
            F.expr("CAST(array_position(nd, tt) AS INT)").alias("ti"),
            "c",
            "o",
        )
        .filter("fi > 0 AND ti > 0")
        .agg(F.expr("collect_list(struct(fi, ti, c, o))").alias("es"))
    )
    fold = f"""
aggregate(
  sequence(1, {_MKV_ROUNDS}),
  transform(nd, x -> CAST({_MKV_UNIT} AS BIGINT)),
  (pu, rnd) -> transform(nd, (x, i) ->
    CAST(aggregate(
        filter(es, ed -> ed.ti = i + 1),
        CAST(0 AS BIGINT),
        (s, ed) -> s + (element_at(pu, ed.fi) * ed.c) div ed.o
    ) AS BIGINT)))
"""
    stat = (
        nd_row.join(F.broadcast(es_row))
        .select("nd", F.expr(fold).alias("pu"))
        .select(F.expr("explode(arrays_zip(nd, pu))").alias("z"))
        .select(F.col("z.nd").alias("s"), F.col("z.pu").alias("pu"))
    )
    return (
        tr.join(outd, "ft")
        .join(F.broadcast(stat), F.col("ft") == F.col("s"))
        .select(
            F.col("ft").alias("from_type"),
            F.col("tt").alias("to_type"),
            F.col("c").alias("n_trans"),
            (F.col("c").cast("double") / F.col("o")).alias("prob"),
            F.col("pu").alias("stat_from_u"),
            (F.col("pu").cast("double") / _MKV_UNIT).alias("stat_from"),
        )
    )


# CUPED covariate-adjusted A/B metric (pre-period spend as covariate)

_CUPED_SPLIT = "1998-01-01"  # pre/post boundary inside the 1995-2001 span

_CUPED_SQL = f"""
WITH cust AS (
  SELECT o_custkey AS u,
         CAST('0x' || substring(md5(o_custkey::VARCHAR || ':arm'), 1, 6)
              AS BIGINT) % 2 AS arm,
         CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '{_CUPED_SPLIT}'
                  THEN CAST(o_totalprice AS DECIMAL(30,2)) ELSE 0 END) * 100
              AS BIGINT) AS xc,
         CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '{_CUPED_SPLIT}'
                  THEN CAST(o_totalprice AS DECIMAL(30,2)) ELSE 0 END) * 100
              AS BIGINT) AS yc
  FROM orders GROUP BY 1
),
mom AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(xc) AS sx, SUM(yc) AS sy,
         SUM(CAST(xc AS DECIMAL(19,0)) * yc) AS sxy,
         SUM(CAST(xc AS DECIMAL(19,0)) * xc) AS sxx,
         SUM(CAST(yc AS DECIMAL(19,0)) * yc) AS syy
  FROM cust GROUP BY 1
),
gmom AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS gn,
         CAST(SUM(sx) AS DOUBLE) AS gsx, CAST(SUM(sy) AS DOUBLE) AS gsy,
         CAST(SUM(sxy) AS DOUBLE) AS gsxy, CAST(SUM(sxx) AS DOUBLE) AS gsxx
  FROM mom
),
th AS (
  SELECT gn, gsx,
         CASE WHEN (gn * gsxx - gsx * gsx) > 0
              THEN ROUND((gn * gsxy - gsx * gsy)
                         / (gn * gsxx - gsx * gsx), 6)
              ELSE 0.0 END AS theta
  FROM gmom
)
SELECT m.arm, m.n AS n_units,
       CAST(m.sy AS DOUBLE) / m.n / 100 AS mean_y,
       t.theta,
       (CAST(m.sy AS DOUBLE) / m.n
        - t.theta * (CAST(m.sx AS DOUBLE) / m.n - t.gsx / t.gn)) / 100
         AS mean_y_adj,
       CASE WHEN m.n > 1 THEN ROUND(
         (m.n * CAST(m.syy AS DOUBLE) - CAST(m.sy AS DOUBLE)
            * CAST(m.sy AS DOUBLE))
         / (CAST(m.n AS DOUBLE) * m.n) / 1e4, -2) END AS var_y,
       CASE WHEN m.n > 1 THEN ROUND(
         ((m.n * CAST(m.syy AS DOUBLE) - CAST(m.sy AS DOUBLE)
             * CAST(m.sy AS DOUBLE))
          - 2 * t.theta * (m.n * CAST(m.sxy AS DOUBLE)
             - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
          + t.theta * t.theta * (m.n * CAST(m.sxx AS DOUBLE)
             - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE)))
         / (CAST(m.n AS DOUBLE) * m.n) / 1e4, -2) END AS var_y_adj
FROM mom m, th t
"""


@query("agg_cuped_adjust", oracle=_CUPED_SQL)
def agg_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED covariate-adjusted A/B metric (Deng et al.'s standard
    experimentation variance-reduction) — the EFFICIENCY member of the
    testing family: agg_ttest_ab compares raw arm means, while CUPED
    subtracts θ·(X − μ_X) using each unit's PRE-period covariate
    (spend before {_CUPED_SPLIT}) so the post-period comparison sheds
    the between-user variance the covariate explains;
    θ = cov(X,Y)/var(X) is fit GLOBALLY (both arms pooled — the
    unbiasedness-preserving convention) and both the adjusted mean and
    the adjusted variance var(Y) − 2θcov + θ²var(X) are reported per
    md5-hashed arm.

    Determinism (the agg_corr_covar recipe, cent-lattice variant):
    per-customer pre/post spends are EXACT cent BIGINTs via
    DECIMAL(30,2) conditional sums ·100; arm moments are exact BIGINT/
    DECIMAL(19,0)-product sums (xc ≤ ~1e9 cents keeps xc·yc inside the
    38-digit product); every downstream formula is the same IEEE tree
    on identical doubles. θ is ROUND(6)-canonicalized BEFORE any
    downstream use (its numerator's DECIMAL→DOUBLE cast carries ~18
    digits — at the bitwise-span edge, the ts_twap rule), and the two
    variances take ROUND(4); var(X) = 0 takes the θ = 0 no-adjustment
    contract via the same CASE both engines (degencheck class: a
    single-customer or constant-spend fixture never divides).
    mean_y/mean_y_adj stay unrounded: exact-BIGINT-ratio doubles
    composed with the canonical θ — bitwise.

    Scale: ONE orders scan → customer grain (partial-aggregable
    conditional sums), then a 2-row arm-moment frame and a 1-row θ
    frame (allowlisted bounded BNLJ) — the textbook two-level
    experiment rollup, no fact-side join at all."""
    o = load(spark, sf_dir, "orders")
    cust = o.groupBy(F.col("o_custkey").alias("u")).agg(
        F.expr(
            "CAST(conv(substring(md5(concat(cast(o_custkey AS STRING),"
            " ':arm')), 1, 6), 16, 10) AS BIGINT) % 2"
        ).alias("arm"),
        F.expr(
            f"CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '{_CUPED_SPLIT}'"
            " THEN CAST(o_totalprice AS DECIMAL(30,2)) ELSE 0 END) * 100"
            " AS BIGINT)"
        ).alias("xc"),
        F.expr(
            f"CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '{_CUPED_SPLIT}'"
            " THEN CAST(o_totalprice AS DECIMAL(30,2)) ELSE 0 END) * 100"
            " AS BIGINT)"
        ).alias("yc"),
    )
    mom = cust.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("xc").alias("sx"),
        F.sum("yc").alias("sy"),
        F.sum(F.expr("CAST(xc AS DECIMAL(19,0)) * yc")).alias("sxy"),
        F.sum(F.expr("CAST(xc AS DECIMAL(19,0)) * xc")).alias("sxx"),
        F.sum(F.expr("CAST(yc AS DECIMAL(19,0)) * yc")).alias("syy"),
    )
    mom = pin(mom)
    glob = mom.agg(
        F.expr("CAST(SUM(n) AS DOUBLE)").alias("gn"),
        F.expr("CAST(SUM(sx) AS DOUBLE)").alias("gsx"),
        F.expr("CAST(SUM(sy) AS DOUBLE)").alias("gsy"),
        F.expr("CAST(SUM(sxy) AS DOUBLE)").alias("gsxy"),
        F.expr("CAST(SUM(sxx) AS DOUBLE)").alias("gsxx"),
    )
    th = glob.select(
        "gn",
        "gsx",
        F.expr(
            "CASE WHEN (gn * gsxx - gsx * gsx) > 0"
            " THEN ROUND((gn * gsxy - gsx * gsy)"
            " / (gn * gsxx - gsx * gsx), 6) ELSE 0.0 END"
        ).alias("theta"),
    )
    return mom.crossJoin(F.broadcast(th)).select(
        "arm",
        F.col("n").alias("n_units"),
        F.expr("CAST(sy AS DOUBLE) / n / 100").alias("mean_y"),
        "theta",
        F.expr(
            "(CAST(sy AS DOUBLE) / n"
            " - theta * (CAST(sx AS DOUBLE) / n - gsx / gn)) / 100"
        ).alias("mean_y_adj"),
        F.expr(
            "CASE WHEN n > 1 THEN ROUND("
            "(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)"
            " * CAST(sy AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * n) / 1e4, -2) END"
        ).alias("var_y"),
        F.expr(
            "CASE WHEN n > 1 THEN ROUND("
            "((n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)"
            " * CAST(sy AS DOUBLE))"
            " - 2 * theta * (n * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " + theta * theta * (n * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
            " / (CAST(n AS DOUBLE) * n) / 1e4, -2) END"
        ).alias("var_y_adj"),
    )


# Cox proportional-hazards score step (binary covariate, Breslow ties)

_COX_CENSOR_DAYS = 2  # ts_survival_km's censoring convention
_COX_LAT = 1_000_000_000  # per-event-time term lattice

_COX_SQL = f"""
WITH span AS MATERIALIZED (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1,
         CAST(COUNT(*) AS BIGINT) AS ec
  FROM events GROUP BY user_id
),
g AS (
  SELECT MAX(d1) AS gmax,
         CAST(SUM(ec) AS DOUBLE) / COUNT(*) AS cmean
  FROM span
),
lt AS MATERIALIZED (
  SELECT date_diff('day', d0, d1) AS lt,
         CASE WHEN date_diff('day', d1, gmax) <= {_COX_CENSOR_DAYS}
              THEN 0 ELSE 1 END AS dead,
         CASE WHEN ec > cmean THEN 1 ELSE 0 END AS x
  FROM span, g
),
grp AS (
  SELECT lt,
         CAST(COUNT(*) AS BIGINT) AS n_at,
         CAST(SUM(x) AS BIGINT) AS x_at,
         CAST(SUM(dead) AS BIGINT) AS d,
         CAST(SUM(dead * x) AS BIGINT) AS s
  FROM lt GROUP BY lt
),
cum AS (
  SELECT lt, d, s,
         SUM(n_at) OVER () - SUM(n_at) OVER (ORDER BY lt
                                             ROWS UNBOUNDED PRECEDING)
           + n_at AS s0,
         SUM(x_at) OVER () - SUM(x_at) OVER (ORDER BY lt
                                             ROWS UNBOUNDED PRECEDING)
           + x_at AS s1
  FROM grp
),
terms AS (
  SELECT d, s0,
         CAST(FLOOR((s - d * (CAST(s1 AS DOUBLE) / s0)) * {_COX_LAT}
                    + 0.5) AS BIGINT) AS ul,
         CAST(FLOOR(d * (CAST(s1 AS DOUBLE) / s0)
                      * (1.0 - CAST(s1 AS DOUBLE) / s0) * {_COX_LAT}
                    + 0.5) AS BIGINT) AS il
  FROM cum WHERE d > 0
)
SELECT CAST((SELECT COUNT(*) FROM lt) AS BIGINT) AS n_users,
       CAST(COALESCE(SUM(d), 0) AS BIGINT) AS n_deaths,
       CAST(COALESCE(SUM(ul), 0) AS DOUBLE) / {_COX_LAT} AS u_score,
       CAST(COALESCE(SUM(il), 0) AS DOUBLE) / {_COX_LAT} AS fisher_info,
       CASE WHEN COALESCE(SUM(il), 0) > 0
            THEN ROUND(CAST(SUM(ul) AS DOUBLE) / SUM(il), 6) END AS beta1,
       CASE WHEN COALESCE(SUM(il), 0) > 0
            THEN ROUND(EXP(CAST(SUM(ul) AS DOUBLE) / SUM(il)), 6) END
         AS hazard_ratio
FROM terms
"""


@query("ml_cox_score_step", oracle=_COX_SQL)
def ml_cox_score_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Newton step of Cox proportional-hazards regression (from
    β = 0, Breslow ties) on user lifetime with a binary
    high-activity covariate — the COVARIATE-EFFECT member of the
    survival family: ts_survival_km estimates the one-sample curve,
    while the Cox score step asks WHETHER high-activity users churn at
    a different hazard, β̂ = U(0)/I(0) with
    U = Σ_t (s_t − d_t·x̄_Rt) and I = Σ_t d_t·x̄_Rt(1 − x̄_Rt) over
    event times t (binary covariate ⇒ the risk-set variance is
    p(1−p)) — the first iteration every Cox fitter runs, and for a
    single binary covariate already the log-rank-test direction.

    Determinism: lifetimes/censoring exactly as ts_survival_km;
    the covariate cut compares an exact BIGINT count to the exact-
    ratio global mean; risk-set S0/S1 ride the suffix-cumulative
    pattern on the lifetime-support grain (aggregate-bounded global
    windows — GLOBAL_WINDOW_OK names the grain); x̄ = S1/S0 divides
    only on d > 0 rows where S0 ≥ d ≥ 1 (no guard can fire); each
    per-time term is FLOOR-quantized to the 1e9 lattice (identical
    IEEE doubles both engines) so the final sums are exact BIGINTs —
    no float fold order. I = 0 (constant covariate in every risk set)
    takes the NULL contract via the same CASE; β and the hazard ratio
    ROUND(6) (EXP is the only transcendental).

    Scale: one events scan → user grain → lifetime-support grain
    (saturates at the calendar span); the window is K-row; the final
    frame is one row."""
    ev = load(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
        F.count("*").cast("bigint").alias("ec"),
    )
    span = pin(span)
    g = span.agg(
        F.max("d1").alias("gmax"),
        (F.sum("ec").cast("double") / F.count("*")).alias("cmean"),
    )
    lt = span.crossJoin(F.broadcast(g)).select(
        F.expr("datediff(d1, d0)").alias("lt"),
        F.expr(
            f"CASE WHEN datediff(gmax, d1) <= {_COX_CENSOR_DAYS}"
            " THEN 0 ELSE 1 END"
        ).alias("dead"),
        F.expr("CASE WHEN ec > cmean THEN 1 ELSE 0 END").alias("x"),
    )
    lt = pin(lt)
    grp = lt.groupBy("lt").agg(
        F.count("*").cast("bigint").alias("n_at"),
        F.sum("x").cast("bigint").alias("x_at"),
        F.sum("dead").cast("bigint").alias("d"),
        F.sum(F.col("dead") * F.col("x")).cast("bigint").alias("s"),
    )
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy("lt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grp.select(
        "lt",
        "d",
        "s",
        (
            F.sum("n_at").over(w_all)
            - F.sum("n_at").over(w_cum)
            + F.col("n_at")
        ).alias("s0"),
        (
            F.sum("x_at").over(w_all)
            - F.sum("x_at").over(w_cum)
            + F.col("x_at")
        ).alias("s1"),
    )
    terms = cum.filter(F.col("d") > 0).select(
        "d",
        F.expr(
            f"CAST(FLOOR((s - d * (CAST(s1 AS DOUBLE) / s0)) * {_COX_LAT}"
            " + 0.5) AS BIGINT)"
        ).alias("ul"),
        F.expr(
            f"CAST(FLOOR(d * (CAST(s1 AS DOUBLE) / s0)"
            f" * (1.0 - CAST(s1 AS DOUBLE) / s0) * {_COX_LAT}"
            " + 0.5) AS BIGINT)"
        ).alias("il"),
    )
    nn = lt.agg(F.count("*").cast("bigint").alias("n_users"))
    fin = terms.agg(
        F.coalesce(F.sum("d"), F.lit(0)).cast("bigint").alias("n_deaths"),
        (
            F.coalesce(F.sum("ul"), F.lit(0)).cast("double") / _COX_LAT
        ).alias("u_score"),
        (
            F.coalesce(F.sum("il"), F.lit(0)).cast("double") / _COX_LAT
        ).alias("fisher_info"),
        F.expr(
            "CASE WHEN COALESCE(SUM(il), 0) > 0"
            " THEN ROUND(CAST(SUM(ul) AS DOUBLE) / SUM(il), 6) END"
        ).alias("beta1"),
        F.expr(
            "CASE WHEN COALESCE(SUM(il), 0) > 0"
            " THEN ROUND(EXP(CAST(SUM(ul) AS DOUBLE) / SUM(il)), 6) END"
        ).alias("hazard_ratio"),
    )
    return fin.crossJoin(F.broadcast(nn)).select(
        "n_users",
        "n_deaths",
        "u_score",
        "fisher_info",
        "beta1",
        "hazard_ratio",
    )
