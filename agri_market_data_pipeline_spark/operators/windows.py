"""Window-function operators (SURVEY.md §2.B win_*).

Time series in this engine are modeled relationally (date column +
group keys), exactly the reference's model (SURVEY.md §1.2): window
functions over the date column replace any bespoke time-series
structure. Determinism discipline: every window ordering carries a
unique tiebreaker, and windowed float sums go through DECIMAL (exact)
so sliding-frame incremental evaluation can't drift from the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dsum, sql_dsum
from ..registry import query
from ..tables import load


def _daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (priority, day) exact daily aggregate — the shared 'price
    series' input for the moving-window operators (the daily-modal-price
    analog)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            "o_orderpriority", F.col("o_orderdate").cast("date").alias("d")
        )
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("day_total"))
    )


_DAILY_SQL = f"""
SELECT o_orderpriority,
       CAST(o_orderdate AS DATE) AS d,
       COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice")} AS day_total
FROM orders
GROUP BY 1, 2
"""


@query(
    "win_rank_topk",
    oracle="""
SELECT c_mktsegment, c_custkey, c_acctbal, rnk
FROM (
    SELECT c_mktsegment, c_custkey, c_acctbal,
           RANK() OVER (PARTITION BY c_mktsegment
                        ORDER BY c_acctbal DESC, c_custkey) AS rnk
    FROM customer
) t
WHERE rnk <= 5
""",
)
def win_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via rank() — the 'top markets by price' shape.
    c_custkey tiebreaker makes the ordering total. At scale the
    partition-by key distributes the sort; no global shuffle-sort."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.select("c_mktsegment", "c_custkey", "c_acctbal", F.rank().over(w).cast("long").alias("rnk"))
        .filter(F.col("rnk") <= 5)
    )


@query(
    "win_moving_avg",
    oracle=f"""
WITH daily AS ({_DAILY_SQL})
SELECT o_orderpriority, d, day_total,
       CAST(SUM(CAST(day_total AS DECIMAL(30,6))) OVER w AS DOUBLE)
           / COUNT(day_total) OVER w AS ma7
FROM daily
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of the daily totals (the 7-day modal-price MA
    of SURVEY.md §2.B). The moving sum accumulates in DECIMAL: exact and
    order-independent, so Spark's sliding-frame evaluation and the
    oracle's agree bitwise."""
    daily = _daily_orders(spark, sf_dir)
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    ma = F.sum(F.col("day_total").cast("decimal(30,6)")).over(w).cast(
        "double"
    ) / F.count("day_total").over(w)
    return daily.select("o_orderpriority", "d", "day_total", ma.alias("ma7"))


@query(
    "win_moving_avg_range",
    oracle=f"""
WITH daily AS ({_DAILY_SQL}),
keyed AS (
    SELECT o_orderpriority, d, day_total,
           date_diff('day', DATE '1995-01-01', d) AS day_no
    FROM daily
)
SELECT o_orderpriority, d, day_total,
       CAST(SUM(CAST(day_total AS DECIMAL(30,6))) OVER w AS DOUBLE)
           / COUNT(day_total) OVER w AS ma7r
FROM keyed
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day_no
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def win_moving_avg_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average with a RANGE frame (SURVEY.md §2.B
    win_moving_avg's `rangeBetween(-6, 0)` form): the frame is defined
    by the *value* of the ordering key (days since epoch), so calendar
    gaps shrink the window — on a series with missing days this differs
    from the ROWS form (win_moving_avg), which always spans 7 physical
    rows. Same DECIMAL-exact accumulation."""
    daily = _daily_orders(spark, sf_dir).withColumn(
        "day_no", F.datediff(F.col("d"), F.lit("1995-01-01").cast("date"))
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day_no")
        .rangeBetween(-6, Window.currentRow)
    )
    ma = F.sum(F.col("day_total").cast("decimal(30,6)")).over(w).cast(
        "double"
    ) / F.count("day_total").over(w)
    return daily.select("o_orderpriority", "d", "day_total", ma.alias("ma7r"))


@query(
    "win_lag_pct_change",
    oracle=f"""
WITH daily AS ({_DAILY_SQL})
SELECT o_orderpriority, d, day_total,
       LAG(day_total) OVER w AS prev_total,
       (day_total - LAG(day_total) OVER w) / LAG(day_total) OVER w AS pct_change
FROM daily
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY d)
""",
)
def win_lag_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day percent change via lag() — the price-change query.
    The division operates on identical doubles in both engines, so no
    rounding is needed."""
    daily = _daily_orders(spark, sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy("d")
    prev = F.lag("day_total").over(w)
    return daily.select(
        "o_orderpriority",
        "d",
        "day_total",
        prev.alias("prev_total"),
        ((F.col("day_total") - prev) / prev).alias("pct_change"),
    )


@query(
    "win_first_last",
    oracle="""
SELECT o_orderpriority, o_orderkey, o_totalprice,
       FIRST_VALUE(o_totalprice) OVER w AS first_price,
       LAST_VALUE(o_totalprice) OVER w AS last_price,
       NTILE(4) OVER (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last quote per group + quartile bucketing (ntile). The
    first/last window pins an explicit unbounded frame — last_value's
    default frame (up to CURRENT ROW) is a classic wrong-answer trap in
    both engines."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wq = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.ntile(4).over(wq).cast("long").alias("quartile"),
    )


@query(
    "win_cume_dist",
    oracle="""
SELECT o_orderkey,
       percent_rank() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS pct_rank,
       cume_dist() OVER (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey) AS cum_dist
FROM orders
WHERE o_totalprice > 400000
""",
)
def win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing windows (percent_rank / cume_dist): where does
    each order sit in its priority class's price distribution — the
    "is this quotation high for its market" query. Rank-family windows
    need one sort per partition key and stream in O(1) memory per
    partition (no frame buffering); o_orderkey tiebreaks the ordering so
    ties can't flip ranks between engines (registry.py rule)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.filter(F.col("o_totalprice") > 400000).select(
        "o_orderkey",
        # no ROUND: both values are ratios of the same integers, so the
        # double division is bitwise-identical across engines — rounding
        # would *introduce* tie divergence (k/(n-1) lands exactly on
        # decimal half-ulp boundaries), not absorb it
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
    )


@query(
    "win_streak",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), isl AS (
  SELECT user_id, d,
         CAST(d - DATE '1970-01-01' AS BIGINT)
           - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
  FROM days
), runs AS (
  SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY user_id, grp
)
SELECT user_id, MAX(len) AS max_streak, COUNT(*) AS n_streaks
FROM runs GROUP BY user_id
""",
)
def win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the run-length
    face of gaps-and-islands (win_sessionize cuts on gaps; this measures
    the islands): epoch_day − row_number is constant exactly within a
    consecutive run, so one window plus two aggregates yields every
    user's longest streak and streak count. All three stages key on
    user_id — one exchange layout end to end, and day arithmetic is
    exact integers (no float boundaries). The mandi reading: longest
    unbroken quotation run per market×commodity, the data-freshness
    metric the reference's 3-hourly harvest implies but never computes."""
    from ..tables import load as _load

    days = (
        _load(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        (F.unix_date("d").cast("long") - F.row_number().over(w)).alias("grp"),
    )
    runs = isl.groupBy("user_id", "grp").agg(F.count("*").alias("len"))
    return runs.groupBy("user_id").agg(
        F.max("len").alias("max_streak"), F.count("*").alias("n_streaks")
    )


_NTILE_N = 10


@query(
    "win_ntile_buckets",
    oracle=f"""
WITH t AS (
  SELECT c_mktsegment AS segment,
         c_custkey,
         c_acctbal,
         NTILE({_NTILE_N}) OVER (PARTITION BY c_mktsegment
                                 ORDER BY c_acctbal DESC, c_custkey) AS decile
  FROM customer
)
SELECT segment, CAST(decile AS BIGINT) AS decile,
       COUNT(*) AS n_customers,
       MIN(c_acctbal) AS min_bal,
       MAX(c_acctbal) AS max_bal
FROM t GROUP BY segment, decile
""",
)
def win_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency bucketing: NTILE(10) splits each market
    segment's customers into balance deciles — the quantile-bucket
    assignment behind tiering, A/B cohorts, and histogram
    equi-depth binning. NTILE is deterministic only given a total
    order, so the window carries the c_custkey tiebreaker
    (registry.py rule); min/max per bucket are order statistics (no
    float summation to diverge). One shuffle on segment; the window
    and the aggregation share that partitioning."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    t = c.select(
        F.col("c_mktsegment").alias("segment"),
        "c_custkey",
        "c_acctbal",
        F.ntile(_NTILE_N).over(w).cast("long").alias("decile"),
    )
    return t.groupBy("segment", "decile").agg(
        F.count("*").alias("n_customers"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )


@query(
    "win_moving_median",
    oracle=f"""
WITH daily AS ({_DAILY_SQL})
SELECT o_orderpriority, d, day_total,
       median(day_total) OVER w AS med7
FROM daily
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day MOVING MEDIAN of the daily totals — the robust twin of
    win_moving_avg (one spike day drags a mean for a week; the median
    shrugs it off — ts_anomaly_mad's argument applied to smoothing).
    Spark refuses ordered-set aggregates over window frames
    (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the frame is
    collected (bounded: ≤7 values), array-sorted, and the median read
    by position — odd count takes the middle element, even count the
    midpoint (a+b)/2, exactly DuckDB's window-median semantics. The
    same single IEEE ops on identical inputs on both engines, so no
    rounding is needed. At 100 TB the frame stays 7 elements per row
    regardless of volume; the one shuffle is the window's
    o_orderpriority hash, shared with the daily pre-aggregation."""
    daily = _daily_orders(spark, sf_dir)
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.sort_array(F.collect_list("day_total").over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    mid_lo = F.element_at(arr, (n / 2).cast("int"))
    med = F.when(n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int"))).otherwise(
        (mid_lo + mid_hi) / 2
    )
    return daily.select(
        "o_orderpriority", "d", "day_total", med.alias("med7")
    )


_ROLLD_DAYS = 7


@query(
    "win_rolling_distinct",
    oracle=f"""
WITH daily AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
),
cal AS (SELECT DISTINCT d FROM daily),
contrib AS (
  SELECT d + CAST(x AS INT) AS td, user_id
  FROM daily, (SELECT UNNEST(generate_series(0, {_ROLLD_DAYS - 1})) AS x)
)
SELECT c.d, COUNT(DISTINCT ct.user_id) AS users_7d
FROM cal c JOIN contrib ct ON ct.td = c.d
GROUP BY c.d
""",
)
def win_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the
    rolling-DAU/WAU metric. COUNT(DISTINCT) over a window frame does
    not exist in Spark (distinct state can't live in a running frame),
    and the naive range self-join (every day × every row within 7 days)
    shuffles the fact 7× through a join. The scalable rewrite: each
    (day, user) observation CONTRIBUTES ITSELF to the 7
    target days it falls inside — a row-local explode — and the rolling
    distinct collapses to one plain distinct aggregation on (target
    day, user). The ×7 expansion happens map-side inside
    the scan stage; the only shuffle is the final groupBy, exactly as
    wide as the answer. At 100 TB swap the exact distinct for
    hll_union_agg over daily sketches (agg_hll_merge) — same contribute
    shape, constant state."""
    ev = load(spark, sf_dir, "events")
    daily = ev.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    cal = daily.select("d").distinct()
    contrib = daily.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(_ROLLD_DAYS - 1))
        ).alias("x"),
        "d",
        "user_id",
    ).select(F.date_add("d", F.col("x")).alias("td"), "user_id")
    return (
        contrib.join(F.broadcast(cal), contrib.td == cal.d, "leftsemi")
        .groupBy(F.col("td").alias("d"))
        .agg(F.count_distinct("user_id").alias("users_7d"))
    )


def _rolld_hll_sql() -> str:
    from .aggregations import _HLLR_ALPHA, _HLLR_M, _HLLR_W

    return f"""
WITH daily AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
),
cal AS (SELECT DISTINCT d FROM daily),
dh AS (
  SELECT DISTINCT d,
         CAST(('0x' || substring(md5('h:' || CAST(user_id AS VARCHAR)), 1, 12))
              AS BIGINT) AS hv
  FROM daily
),
dregs AS (
  SELECT d, hv % {_HLLR_M} AS reg,
         MAX(CASE WHEN hv // {_HLLR_M} = 0 THEN {_HLLR_W + 1}
                  ELSE {_HLLR_W + 1} - length(to_base(hv // {_HLLR_M}, 2))
             END) AS rank
  FROM dh GROUP BY 1, 2
),
contrib AS (
  SELECT d + CAST(x AS INT) AS td, reg, rank
  FROM dregs,
       (SELECT UNNEST(generate_series(0, {_ROLLD_DAYS - 1})) AS x)
),
rolled AS (
  SELECT c.d, ct.reg, MAX(ct.rank) AS rank
  FROM cal c JOIN contrib ct ON ct.td = c.d
  GROUP BY 1, 2
),
grid AS (SELECT c.d, g.reg FROM cal c,
         (SELECT UNNEST(generate_series(0, {_HLLR_M - 1})) AS reg) g),
regs AS (
  SELECT g.d, g.reg, COALESCE(r.rank, 0) AS rank
  FROM grid g LEFT JOIN rolled r ON r.d = g.d AND r.reg = g.reg
),
est AS (
  SELECT d, {_HLLR_ALPHA} * {_HLLR_M} * {_HLLR_M}
              / SUM(POWER(2.0, -rank)) AS raw,
         SUM(CASE WHEN rank = 0 THEN 1 ELSE 0 END) AS v_zero
  FROM regs GROUP BY d
),
corrected AS (
  SELECT d, ROUND(CASE WHEN raw <= 2.5 * {_HLLR_M} AND v_zero > 0
                       THEN {_HLLR_M}
                            * ln(CAST({_HLLR_M} AS DOUBLE) / v_zero)
                       ELSE raw END, 4) AS users_7d_hll
  FROM est
),
exact AS (
  SELECT c.d, COUNT(DISTINCT ct.user_id) AS users_7d_exact
  FROM cal c JOIN (
    SELECT d + CAST(x AS INT) AS td, user_id
    FROM daily,
         (SELECT UNNEST(generate_series(0, {_ROLLD_DAYS - 1})) AS x)) ct
    ON ct.td = c.d
  GROUP BY c.d
)
SELECT e.d, e.users_7d_hll, x.users_7d_exact
FROM corrected e JOIN exact x USING (d)
"""


@query("win_rolling_distinct_sketch", oracle=_rolld_hll_sql())
def win_rolling_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """win_rolling_distinct's promised 100 TB interior made real: the
    rolling distinct runs on MERGEABLE per-day HLL register tables
    (agg_hll_relational's oracle-checked registers) instead of exact
    (day, user) pairs. Register MAX commutes with set union, so the
    trailing-7-day union is just MAX over the window's
    daily registers — the contribute-explode now expands ≤64 register
    rows per day instead of every (day, user) observation, making
    rolling state CONSTANT per day regardless of user cardinality.
    The exact rolling distinct rides alongside as the audit twin
    (the agg_hll_relational pattern); tests bound the relative error
    at the sketch's theoretical ~1.04/√m. Both the daily sketch build
    and the rolling merge are partial-aggregable map-side."""
    from .aggregations import _HLLR_ALPHA, _HLLR_M, _HLLR_W

    ev = load(spark, sf_dir, "events")
    daily = ev.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    cal = daily.select("d").distinct()
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("h:"), F.col("user_id").cast("string"))), 1, 12
        ),
        16, 10,
    ).cast("long")
    dh = daily.select("d", hv.alias("hv")).distinct()
    w = F.expr(f"hv div {_HLLR_M}")
    rank = F.when(w == 0, F.lit(_HLLR_W + 1)).otherwise(
        F.lit(_HLLR_W + 1) - F.length(F.conv(w, 10, 2))
    )
    dregs = (
        dh.select("d", (F.col("hv") % _HLLR_M).alias("reg"), rank.alias("rank"))
        .groupBy("d", "reg")
        .agg(F.max("rank").alias("rank"))
    )
    contrib = dregs.select(
        F.explode(F.sequence(F.lit(0), F.lit(_ROLLD_DAYS - 1))).alias("x"),
        "d",
        "reg",
        "rank",
    ).select(F.date_add("d", F.col("x")).alias("td"), "reg", "rank")
    rolled = (
        contrib.join(F.broadcast(cal), contrib.td == cal.d, "leftsemi")
        .groupBy(F.col("td").alias("d"), "reg")
        .agg(F.max("rank").alias("rank"))
    )
    grid = cal.join(spark.range(_HLLR_M).select(F.col("id").alias("reg")))
    regs = grid.join(rolled, ["d", "reg"], "left").select(
        "d", F.coalesce("rank", F.lit(0)).alias("rank")
    )
    raw_est = regs.groupBy("d").agg(
        (
            F.lit(_HLLR_ALPHA * _HLLR_M * _HLLR_M)
            / F.sum(F.pow(F.lit(2.0), -F.col("rank")))
        ).alias("raw"),
        F.sum((F.col("rank") == 0).cast("int")).alias("v_zero"),
    )
    est = raw_est.select(
        "d",
        F.round(
            F.when(
                (F.col("raw") <= 2.5 * _HLLR_M) & (F.col("v_zero") > 0),
                F.lit(_HLLR_M)
                * F.log(F.lit(float(_HLLR_M)) / F.col("v_zero")),
            ).otherwise(F.col("raw")),
            4,
        ).alias("users_7d_hll"),
    )
    exact = win_rolling_distinct(spark, sf_dir).withColumnRenamed(
        "users_7d", "users_7d_exact"
    )
    return est.join(exact, "d")


_PATTERN = "c+p"  # one-or-more clicks immediately followed by a purchase


@query(
    "win_event_pattern",
    oracle=r"""
WITH seq AS (
  SELECT user_id,
         string_agg(CASE event_type WHEN 'click' THEN 'c'
                                    WHEN 'purchase' THEN 'p'
                                    WHEN 'view' THEN 'v'
                                    WHEN 'signup' THEN 's'
                                    ELSE 'e' END, '' ORDER BY ts, event_id)
           AS s
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(length(s) AS BIGINT) AS n_events,
       CAST(length(s) - length(regexp_replace(s, 'cp', '', 'g')) AS BIGINT) / 2
         AS n_click_buys,
       CASE WHEN regexp_matches(s, 'c+p') THEN 1 ELSE 0 END AS has_pattern
FROM seq
""",
)
def win_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern matching over event streams — MATCH_RECOGNIZE
    for engines that don't ship it: each user's journey collapses to a
    one-char-per-event STRING in strict (ts, event_id) order, and the
    pattern 'one or more clicks immediately followed by a purchase'
    becomes the regex /c+p/ — with occurrence counting via the
    replace-and-measure trick (len − len(remove('cp'))). The ordered
    string_agg ↔ concat_ws(sorted collect_list) pairing is CLAUDE.md's
    ordered-aggregation rule; the regex stays in the RE2∩Java subset.

    The journey string is the per-user session payload — bounded by
    events-per-user, the same bound every sessionize/funnel operator
    already carries, so the collect is safe wherever those are. Unlike
    win_funnel_steps (which checks ORDER with arbitrary gaps), the
    regex encodes ADJACENCY — 'immediately followed' — which no
    join/window formulation expresses as directly; at 100 TB arbitrary
    patterns compile to the same regex over the same strings."""
    ev = load(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    seq = (
        ev.select("user_id", F.col("ts").alias("ts"), "event_id", code.alias("ch"))
        .groupBy("user_id")
        .agg(
            F.expr(
                "concat_ws('', transform("
                "array_sort(collect_list(struct(ts, event_id, ch))), s -> s.ch))"
            ).alias("s")
        )
    )
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("n_events"),
        (
            (F.length("s") - F.length(F.regexp_replace("s", "cp", "")))
            .cast("long")
            / 2
        ).alias("n_click_buys"),
        F.when(F.col("s").rlike("c+p"), F.lit(1)).otherwise(F.lit(0)).alias(
            "has_pattern"
        ),
    )


_RSL_W = 14  # rolling frame: current day + 14 preceding = 15 days

_RSL_SQL = f"""
WITH daily AS (
  SELECT event_type AS et, epoch_us(ts) // 86400000000 AS day_no,
         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS v
  FROM events GROUP BY 1, 2
),
lat AS (
  SELECT et, day_no, v,
         CAST(FLOOR(v * 1e6 + 0.5) AS BIGINT) AS yl
  FROM daily
),
win AS (
  SELECT et, day_no, v,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(day_no) OVER w AS BIGINT) AS sx,
         CAST(SUM(yl) OVER w AS BIGINT) AS sy,
         CAST(SUM(day_no * yl) OVER w AS BIGINT) AS sxy,
         CAST(SUM(day_no * day_no) OVER w AS BIGINT) AS sxx
  FROM lat
  WINDOW w AS (PARTITION BY et ORDER BY day_no
               ROWS BETWEEN {_RSL_W} PRECEDING AND CURRENT ROW)
)
SELECT et AS event_type, day_no, v, n,
       CASE WHEN n * sxx - sx * sx > 0 THEN
         (CAST(n * sxy - sx * sy AS DOUBLE)
          / CAST(n * sxx - sx * sx AS DOUBLE)) / 1e6
       ELSE 0.0 END AS slope
FROM win
"""


@query("win_rolling_slope", oracle=_RSL_SQL)
def win_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS slope of each daily series over a 15-day window —
    the LOCAL trend detector (is the price turning this fortnight?)
    where ts_trend_ols fits one global line and ts_theil_sen one
    robust global slope. slope = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²) with
    every windowed sum EXACT: x is the integer day number, y rides the
    FLOOR(v·1e6 + 0.5) BIGINT lattice (v is an exact-ratio double, so
    the lattice is deterministic), products stay integer, and sliding-
    frame evaluation order therefore cannot drift — the final division
    is one IEEE op on exact-integer-valued doubles, bitwise identical,
    no rounding (magnitudes: day_no ~1.7e4, yl ~1e9, 15-row sums
    ~2.6e14 — inside 2^53 for the double casts and far inside BIGINT).
    Windows shorter than 2 distinct days have zero x-variance and emit
    the literal 0.0 slope via the identical exact predicate.

    Scale: facts reduce to (type, day) grain first; the window runs
    per type over calendar-bounded rows (grain-bounded exemption)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("et"),
        F.expr("unix_micros(ts) div 86400000000").alias("day_no"),
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double")
            / F.count("*")
        ).alias("v")
    )
    lat = daily.withColumn(
        "yl", F.floor(F.col("v") * 1e6 + F.lit(0.5)).cast("bigint")
    )
    w = (
        Window.partitionBy("et")
        .orderBy("day_no")
        .rowsBetween(-_RSL_W, Window.currentRow)
    )
    x = F.col("day_no")
    win = lat.select(
        "et",
        "day_no",
        "v",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum(x).over(w).cast("bigint").alias("sx"),
        F.sum("yl").over(w).cast("bigint").alias("sy"),
        F.sum(x * F.col("yl")).over(w).cast("bigint").alias("sxy"),
        F.sum(x * x).over(w).cast("bigint").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col("n"), F.col("sx"), F.col("sy"), F.col("sxy"), F.col("sxx")
    )
    slope = F.when(
        n * sxx - sx * sx > 0,
        ((n * sxy - sx * sy).cast("double") / (n * sxx - sx * sx).cast("double"))
        / F.lit(1e6),
    ).otherwise(F.lit(0.0))
    return win.select(
        F.col("et").alias("event_type"), "day_no", "v", "n",
        slope.alias("slope"),
    )


_SPC_SQL = """
WITH daily AS (
  SELECT event_type AS et, epoch_us(ts) // 86400000000 AS day_no,
         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS v
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT et, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS DECIMAL(30,15))) AS DOUBLE) AS sv,
         CAST(SUM(CAST(v * v AS DECIMAL(30,15))) AS DOUBLE) AS svv
  FROM daily GROUP BY 1
),
z AS (
  SELECT d.et, d.day_no, d.v,
         (d.v - g.sv / g.n)
           / SQRT(GREATEST((g.svv - g.sv * g.sv / g.n) / g.n, 0)) AS zz
  FROM daily d JOIN g ON g.et = d.et
  WHERE g.svv - g.sv * g.sv / g.n > 0
),
ind AS (
  SELECT et, day_no, v, zz,
         CAST(FLOOR(zz * 1e9 + 0.5) AS BIGINT) AS zl,
         CASE WHEN CAST(FLOOR(zz * 1e9 + 0.5) AS BIGINT) > 2000000000
              THEN 1 ELSE 0 END AS hi2,
         CASE WHEN CAST(FLOOR(zz * 1e9 + 0.5) AS BIGINT) < -2000000000
              THEN 1 ELSE 0 END AS lo2,
         CASE WHEN CAST(FLOOR(zz * 1e9 + 0.5) AS BIGINT) > 1000000000
              THEN 1 ELSE 0 END AS hi1,
         CASE WHEN CAST(FLOOR(zz * 1e9 + 0.5) AS BIGINT) < -1000000000
              THEN 1 ELSE 0 END AS lo1,
         CASE WHEN CAST(FLOOR(zz * 1e9 + 0.5) AS BIGINT) > 0
              THEN 1 ELSE 0 END AS hi0,
         CASE WHEN CAST(FLOOR(zz * 1e9 + 0.5) AS BIGINT) < 0
              THEN 1 ELSE 0 END AS lo0
  FROM z
),
r AS (
  SELECT et, day_no, v, zz,
         CASE WHEN zl > 3000000000 OR zl < -3000000000
              THEN 1 ELSE 0 END AS r1,
         CASE WHEN SUM(hi2) OVER w3 >= 2 OR SUM(lo2) OVER w3 >= 2
              THEN 1 ELSE 0 END AS r2,
         CASE WHEN SUM(hi1) OVER w5 >= 4 OR SUM(lo1) OVER w5 >= 4
              THEN 1 ELSE 0 END AS r3,
         CASE WHEN SUM(hi0) OVER w8 = 8 OR SUM(lo0) OVER w8 = 8
              THEN 1 ELSE 0 END AS r4
  FROM ind
  WINDOW w3 AS (PARTITION BY et ORDER BY day_no
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         w5 AS (PARTITION BY et ORDER BY day_no
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         w8 AS (PARTITION BY et ORDER BY day_no
                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
)
SELECT et AS event_type, day_no, v, ROUND(zz, 6) AS z,
       r1, r2, r3, r4,
       CASE WHEN r1 + r2 + r3 + r4 > 0 THEN 1 ELSE 0 END AS any_signal
FROM r
"""


@query("win_spc_runs_rules", oracle=_SPC_SQL)
def win_spc_runs_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control-chart RUNS rules (Western Electric) over each daily
    series: R1 = a point beyond 3 sigma, R2 = 2-of-3 consecutive beyond
    2 sigma on the same side, R3 = 4-of-5 beyond 1 sigma same side,
    R4 = 8 consecutive on one side of center. anomaly_zscore is the
    memoryless R1 alone; the runs rules catch SUSTAINED small shifts a
    3-sigma gate never fires on — the standard SPC escalation ladder
    (and the monitoring the reference's 3-hourly price harvest never
    had). Rolling counts are integer sums over bounded frames; 'same
    side' is enforced by counting each side separately.

    Determinism: mu and sigma are fixed IEEE trees over DECIMAL-exact
    moments, so z is bitwise identical both engines — but a z landing
    within 1 ulp of a threshold could still flip an indicator if the
    DECIMAL(30,15) sums ever exceed the ~15-significant-digit
    correctly-rounded span (ADVICE r8), so every threshold compares
    the FLOOR(z*1e9+0.5) BIGINT lattice (pure IEEE ops, half-ties
    resolve identically — the CLAUDE.md lattice rule) rather than the
    raw double; rolling sums are integer indicators over ROWS frames
    (no float fold order anywhere); only the REPORTED z takes
    ROUND(6). Zero-variance series are filtered
    by the identical exact predicate (ts_periodicity_strength's
    discipline).

    Scale: one partial agg to (type, day), one broadcast of K moment
    rows, three bounded-frame windows on the natural series partition
    key — grain-bounded (calendar) per series."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("et"),
        F.expr("unix_micros(ts) div 86400000000").alias("day_no"),
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double")
            / F.count("*")
        ).alias("v")
    )
    g = daily.groupBy("et").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("v").cast("decimal(30,15)")).cast("double").alias("sv"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(30,15)"))
        .cast("double")
        .alias("svv"),
    )
    n, sv, svv = F.col("n"), F.col("sv"), F.col("svv")
    z = (
        daily.join(F.broadcast(g), "et")
        .filter(svv - sv * sv / n > 0)
        .select(
            "et",
            "day_no",
            "v",
            (
                (F.col("v") - sv / n)
                / F.sqrt(F.greatest((svv - sv * sv / n) / n, F.lit(0.0)))
            ).alias("zz"),
        )
    )
    zz = F.col("zz")
    zl = F.floor(zz * 1e9 + F.lit(0.5)).cast("bigint")
    ind = z.select(
        "et",
        "day_no",
        "v",
        "zz",
        zl.alias("zl"),
        (zl > 2_000_000_000).cast("int").alias("hi2"),
        (zl < -2_000_000_000).cast("int").alias("lo2"),
        (zl > 1_000_000_000).cast("int").alias("hi1"),
        (zl < -1_000_000_000).cast("int").alias("lo1"),
        (zl > 0).cast("int").alias("hi0"),
        (zl < 0).cast("int").alias("lo0"),
    )

    def frame(k):
        return (
            Window.partitionBy("et")
            .orderBy("day_no")
            .rowsBetween(-(k - 1), Window.currentRow)
        )

    zlc = F.col("zl")
    r1 = F.when(
        (zlc > 3_000_000_000) | (zlc < -3_000_000_000), 1
    ).otherwise(0)
    r2 = F.when(
        (F.sum("hi2").over(frame(3)) >= 2)
        | (F.sum("lo2").over(frame(3)) >= 2),
        1,
    ).otherwise(0)
    r3 = F.when(
        (F.sum("hi1").over(frame(5)) >= 4)
        | (F.sum("lo1").over(frame(5)) >= 4),
        1,
    ).otherwise(0)
    r4 = F.when(
        (F.sum("hi0").over(frame(8)) == 8)
        | (F.sum("lo0").over(frame(8)) == 8),
        1,
    ).otherwise(0)
    r = ind.select(
        "et", "day_no", "v", "zz",
        r1.alias("r1"), r2.alias("r2"), r3.alias("r3"), r4.alias("r4"),
    )
    return r.select(
        F.col("et").alias("event_type"),
        "day_no",
        "v",
        F.round(zz, 6).alias("z"),
        "r1",
        "r2",
        "r3",
        "r4",
        F.when(
            F.col("r1") + F.col("r2") + F.col("r3") + F.col("r4") > 0, 1
        )
        .otherwise(0)
        .alias("any_signal"),
    )
