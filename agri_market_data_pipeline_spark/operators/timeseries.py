"""Time-series operators: sessionization (gaps-and-islands) and
calendar densify + forward fill.

The reference models time series relationally (SURVEY.md §1.2: date
column + group keys, no dedicated structure), which is exactly Spark's
model — these two operators are the canonical relational time-series
transforms its data exists to serve:

- gaps-and-islands sessionization is the batch twin of
  `session_window` (streaming/ops.py): same semantics, expressible as
  two window passes, so it gets a full value-hash oracle where the
  streaming variant can only be rows-checked;
- densify + forward-fill is the agmarknet "price on days with no
  quotation" query (markets don't trade daily — SURVEY.md §1.1 grain),
  built from the same carry-forward primitive as the as-of join
  (operators/asof.py) but materializing the full calendar.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import DEC, DEC_FINE, DEC_WIDE, dsum, sql_dsum
from ..memo import pin
from ..registry import query
from ..tables import load, load_parallel

_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap, microseconds

# The daily event series, one definition per engine: per (event_type,
# day) the exact-sum/count mean of value. `DAILY_EVENTS_SQL` is the
# oracle CTE `daily(et, day_no, v)`; it follows `WITH` or
# `WITH RECURSIVE`.
DAILY_EVENTS_SQL = f"""daily AS (
  SELECT event_type AS et, epoch_us(ts) // 86400000000 AS day_no,
         {sql_dsum("value")} / COUNT(*) AS v
  FROM events GROUP BY 1, 2
)"""


def daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy `(et, day_no, v)` frame, the Spark twin of `DAILY_EVENTS_SQL`.

    Day numbers are integral `unix_micros div 86400000000` (DuckDB
    `epoch_us // 86400000000`; epochs here are non-negative, so the two
    divisions agree). The mean is a DECIMAL sum over a count, bitwise
    equal on both engines. Callers that need a BIGINT lattice
    (`FLOOR(v * 1e6 + 0.5)`) apply it in their own projection; Catalyst
    folds it back into the aggregate."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.expr("event_type AS et"),
            F.expr("unix_micros(ts) div 86400000000 AS day_no"),
        )
        .agg(F.expr(f"{sql_dsum('value')} / COUNT(*) AS v"))
    )


def fold_series(
    frame: DataFrame,
    key: str,
    fields: str,
    init: str,
    step: str,
    head: int = 1,
) -> DataFrame:
    """Per-`key` sequential recursion folded inside the JVM: `(key, n, st)`.

    Each key's rows become `arr`, an array of `struct(<fields>)` sorted
    by its first field (the order key, unique per key). `init` builds
    the accumulator from the first `head` elements (`arr[0]`, ...), and
    `step` advances it as `(acc, x) -> ...` over the rest in order; `st`
    is the final accumulator and `n` the BIGINT row count. Keys with
    fewer than `head` rows emit no row. The twin is a DuckDB
    `WITH RECURSIVE` advancing all keys in rank lockstep."""
    grouped = frame.groupBy(key).agg(
        F.expr(f"array_sort(collect_list(struct({fields}))) AS arr"),
        F.expr("COUNT(*) AS n"),
    )
    if head > 1:
        grouped = grouped.where(f"n >= {head}")
    return grouped.selectExpr(
        key,
        "n",
        f"aggregate(slice(arr, {head + 1}, size(arr) - {head}), {init}, "
        f"(acc, x) -> {step}) AS st",
    )


def _lattice_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`(et, day_no, lv)`: the daily series on the BIGINT 1e-6 lattice."""
    return daily_events(spark, sf_dir).selectExpr(
        "et", "day_no", "CAST(FLOOR(v * 1e6 + 0.5D) AS BIGINT) AS lv"
    )


@query(
    "win_sessionize",
    oracle=f"""
WITH x AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
  FROM events
), s AS (
  SELECT user_id, event_id, tus,
         CAST(SUM(CASE WHEN prev IS NULL OR tus - prev > {_GAP_US}
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY tus, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM x
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       MIN(tus) AS t0_us,
       MAX(tus) AS t1_us
FROM s
GROUP BY user_id, session_id
""",
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization by the gaps-and-islands pattern: a new
    session starts where the gap to the previous event exceeds 30 min;
    the running sum of session starts is the session id.

    Both window passes and the final aggregation hash-partition by
    user_id, so the whole operator is ONE shuffle reused across three
    stages. Gap arithmetic is in integral microseconds (`unix_micros` ↔
    DuckDB `epoch_us`): epoch µs exceed double's 53-bit mantissa, float
    seconds would mis-order near-tie gaps. event_id is the unique
    tiebreaker (registry.py window rule). At 100 TB per-user history is
    bounded, so no per-key skew; the streaming twin is
    `stream_session_window`.
    """
    ev = load(spark, sf_dir, "events")
    tus = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    base = ev.select("user_id", "event_id", tus.alias("tus"))
    prev = F.lag("tus").over(w)
    # prev IS NULL opens the user's first session explicitly — a bare
    # `tus - prev > gap` is NULL there and would fall through to 0
    new_sess = F.when(
        prev.isNull() | (F.col("tus") - prev > _GAP_US), 1
    ).otherwise(0)
    sess = base.withColumn(
        "session_id",
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("tus").alias("t0_us"),
        F.max("tus").alias("t1_us"),
    )


@query(
    "ts_gap_fill",
    oracle=f"""
WITH agg AS (
  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS d,
         {sql_dsum("o_totalprice")} AS v
  FROM orders
  WHERE o_totalprice > 400000
  GROUP BY 1, 2
), rng AS (
  SELECT prio, MIN(d) AS d0, MAX(d) AS d1 FROM agg GROUP BY prio
), cal AS (
  SELECT prio, CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
  FROM rng
), j AS (
  SELECT cal.prio, cal.d, agg.v
  FROM cal LEFT JOIN agg ON agg.prio = cal.prio AND agg.d = cal.d
)
SELECT prio, d,
       LAST_VALUE(v IGNORE NULLS)
         OVER (PARTITION BY prio ORDER BY d ROWS UNBOUNDED PRECEDING)
         AS v_filled
FROM j
""",
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify a sparse daily series to the full calendar and carry the
    last observation forward (the "price between quotation days" query;
    the >400k filter makes the series genuinely sparse so the fill is
    exercised).

    The calendar is generated from the per-group [min, max] range —
    `sequence()` + `explode` on a #groups-sized frame, negligible next
    to the fact scan — then one left join and one carry-forward window,
    both hash-partitioned by group key: two shuffles total, each sized
    by #groups × #days, independent of fact-table width. `d` is unique
    per group after the daily pre-aggregation, so the window order needs
    no extra tiebreaker.
    """
    o = load_parallel(spark, sf_dir, "orders")
    agg = (
        o.filter(F.col("o_totalprice") > 400000)
        .groupBy(
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(dsum("o_totalprice").alias("v"))
    )
    rng = agg.groupBy("prio").agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    cal = rng.select("prio", F.explode(F.sequence("d0", "d1")).alias("d"))
    j = cal.join(agg, ["prio", "d"], "left")
    w = (
        Window.partitionBy("prio")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "prio",
        "d",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
    )


_EWMA_R = 0.75  # per-step decay; 8-tap FIR truncation (r^8 < 0.11)
_EWMA_TAPS = 8


def _sql_ewma() -> tuple[str, str]:
    """(numerator, denominator) SQL for the truncated-EWMA over lag taps
    t0..t7 — the same left-associated expression tree the Spark side
    builds, so both engines evaluate identical IEEE operation orders."""
    num = " + ".join(
        f"CASE WHEN t{k} IS NULL THEN 0.0 ELSE {_EWMA_R**k!r} * t{k} END"
        for k in range(_EWMA_TAPS)
    )
    den = " + ".join(
        f"CASE WHEN t{k} IS NULL THEN 0.0 ELSE {_EWMA_R**k!r} END"
        for k in range(_EWMA_TAPS)
    )
    return num, den


@query(
    "ts_ewma",
    oracle=f"""
WITH daily AS (
  SELECT o_orderpriority AS prio,
         CAST(o_orderdate AS DATE) AS d,
         {sql_dsum("o_totalprice")} AS x
  FROM orders GROUP BY 1, 2
), lagged AS (
  SELECT prio, d, x,
         {", ".join(f"LAG(x, {k}) OVER (PARTITION BY prio ORDER BY d) AS t{k}" for k in range(_EWMA_TAPS))}
  FROM daily
)
SELECT prio, d, x,
       ({_sql_ewma()[0]}) / ({_sql_ewma()[1]}) AS ewma
FROM lagged
""",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the daily order-value
    series, as a truncated FIR filter: 8 lag taps with literal r^k
    weights and an adaptive normalizer over the taps that exist (so the
    series head isn't biased toward zero). The recursive IIR form
    (ewma = αx + (1−α)·prev) is inexpressible as a window function —
    truncation at r^8 ≈ 0.10 is the standard declarative rendering, and
    at 100 TB it keeps the operator one window pass with a bounded
    frame instead of a stateful scan.

    Determinism without rounding: tap values are DECIMAL-exact daily
    sums, weights are literals, and BOTH engines evaluate the same
    left-associated sum — neither Catalyst nor DuckDB reassociates
    floating-point arithmetic, so the division's operands are
    bit-identical."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(dsum("o_totalprice").alias("x"))
    w = Window.partitionBy("prio").orderBy("d")
    lagged = daily.select(
        "prio",
        "d",
        "x",
        *[F.lag("x", k).over(w).alias(f"t{k}") for k in range(_EWMA_TAPS)],
    )
    num = None
    den = None
    for k in range(_EWMA_TAPS):
        t = F.col(f"t{k}")
        term = F.when(t.isNull(), 0.0).otherwise(F.lit(_EWMA_R**k) * t)
        wgt = F.when(t.isNull(), 0.0).otherwise(F.lit(_EWMA_R**k))
        num = term if num is None else num + term
        den = wgt if den is None else den + wgt
    return lagged.select("prio", "d", "x", (num / den).alias("ewma"))


@query(
    "ts_cusum_changepoint",
    oracle=f"""
WITH daily AS (
  SELECT o_orderpriority AS prio,
         CAST(o_orderdate AS DATE) AS d,
         {sql_dsum("o_totalprice")} AS x
  FROM orders GROUP BY 1, 2
), stats AS (
  SELECT prio,
         {sql_dsum("x")} / COUNT(*) AS mu,
         COUNT(*) AS n_days
  FROM daily GROUP BY prio
), c AS (
  SELECT dd.prio, dd.d, s.n_days,
         SUM(dd.x - s.mu) OVER (PARTITION BY dd.prio ORDER BY dd.d) AS cusum
  FROM daily dd JOIN stats s ON dd.prio = s.prio
), best AS (
  SELECT prio, MAX(ROUND(ABS(cusum), 6)) AS max_abs_cusum
  FROM c GROUP BY prio
)
SELECT c.prio,
       MIN(c.d) AS changepoint_d,
       b.max_abs_cusum,
       MIN(c.n_days) AS n_days
FROM c JOIN best b
  ON c.prio = b.prio AND ROUND(ABS(c.cusum), 6) = b.max_abs_cusum
GROUP BY c.prio, b.max_abs_cusum
""",
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily order-value series: the
    running sum of deviations from the series mean peaks (in absolute
    value) exactly where the level shifts — the classic single-pass
    drift locator for 'did this commodity's price regime change, and
    when'. Ties break to the earliest day.

    Determinism: μ is an exact-DECIMAL ratio, per-row deviations are
    exact IEEE subtractions, and BOTH engines accumulate the running
    window sum sequentially in date order (no reassociation), so the
    cusum trajectory is bit-identical; only its |argmax| comparison is
    ROUND(6)ed to pin the boundary. Scale: one window pass over the
    (group, day) pre-aggregate — never fact rows — then two tiny
    aggregates."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(dsum("o_totalprice").alias("x"))
    stats = daily.groupBy("prio").agg(
        (dsum("x") / F.count("*")).alias("mu"),
        F.count("*").alias("n_days"),
    )
    w = Window.partitionBy("prio").orderBy("d")
    c = (
        daily.join(F.broadcast(stats), "prio")
        .withColumn("cusum", F.sum(F.col("x") - F.col("mu")).over(w))
        .select("prio", "d", "n_days", F.round(F.abs("cusum"), 6).alias("ac"))
    )
    best = c.groupBy("prio").agg(F.max("ac").alias("max_abs_cusum"))
    ca, ba = c.alias("ca"), best.alias("ba")
    return (
        ca.join(
            ba,
            (F.col("ca.prio") == F.col("ba.prio"))
            & (F.col("ca.ac") == F.col("ba.max_abs_cusum")),
        )
        .groupBy(F.col("ca.prio").alias("prio"), "max_abs_cusum")
        .agg(F.min("d").alias("changepoint_d"), F.min("n_days").alias("n_days"))
        .select("prio", "changepoint_d", "max_abs_cusum", "n_days")
    )


@query(
    "ts_autocorr",
    oracle=f"""
WITH daily AS (
  SELECT o_orderpriority AS prio,
         CAST(o_orderdate AS DATE) AS d,
         {sql_dsum("o_totalprice")} AS x
  FROM orders GROUP BY 1, 2
), lagd AS (
  SELECT prio, x,
         LAG(x, 1) OVER (PARTITION BY prio ORDER BY d) AS xl
  FROM daily
), p AS (SELECT prio, x, xl FROM lagd WHERE xl IS NOT NULL
), s AS (
  SELECT prio, COUNT(*) AS n,
         {sql_dsum("x", DEC_WIDE)} AS sx,
         {sql_dsum("xl", DEC_WIDE)} AS sy,
         {sql_dsum("x * xl", DEC_WIDE)} AS sxy,
         {sql_dsum("x * x", DEC_WIDE)} AS sxx,
         {sql_dsum("xl * xl", DEC_WIDE)} AS syy
  FROM p GROUP BY prio
)
SELECT prio, n,
       CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN NULL
            ELSE ROUND((n * sxy - sx * sy)
                       / SQRT(n * sxx - sx * sx)
                       / SQRT(n * syy - sy * sy), 4)
       END AS autocorr_lag1
FROM s
""",
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily order-value series — the
    persistence diagnostic that says whether ts_ewma smoothing or
    ts_cusum_changepoint drift tests are even warranted (white noise:
    ≈0; trending/level-shifted: ≫0). Pearson correlation of the series
    against its own lag, from DECIMAL-exact product sums over the
    lag-paired rows (agg_corr_covar's recipe pointed at a window lag),
    ROUND(4)ed; degenerate variance yields NULL on both engines. One
    window pass over the daily pre-aggregate plus one partial-agg —
    fact rows are touched exactly once, in the pre-aggregation."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(dsum("o_totalprice").alias("x"))
    w = Window.partitionBy("prio").orderBy("d")
    p = (
        daily.withColumn("xl", F.lag("x", 1).over(w))
        .filter(F.col("xl").isNotNull())
    )
    x, xl = F.col("x"), F.col("xl")
    s = p.groupBy("prio").agg(
        F.count("*").alias("n"),
        dsum(x, DEC_WIDE).alias("sx"),
        dsum(xl, DEC_WIDE).alias("sy"),
        dsum(x * xl, DEC_WIDE).alias("sxy"),
        dsum(x * x, DEC_WIDE).alias("sxx"),
        dsum(xl * xl, DEC_WIDE).alias("syy"),
    )
    n = F.col("n")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "prio",
        "n",
        F.when((vx <= 0) | (vy <= 0), F.lit(None))
        .otherwise(F.round(cov / F.sqrt(vx) / F.sqrt(vy), 4))
        .alias("autocorr_lag1"),
    )


_FE_LAG = 12  # naive seasonal forecast: same month last year


@query(
    "ts_forecast_eval",
    oracle=f"""
WITH monthly AS (
  SELECT o_orderpriority AS prio,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         {sql_dsum("o_totalprice")} AS actual
  FROM orders GROUP BY 1, 2
),
with_fc AS (
  SELECT prio, m, actual,
         LAG(actual, {_FE_LAG}) OVER (PARTITION BY prio ORDER BY m) AS fc
  FROM monthly
)
SELECT prio,
       COUNT(fc) AS n_scored,
       ROUND({sql_dsum("abs(actual - fc)")}
             / {sql_dsum("abs(actual)")}, 6)
         AS wape,
       ROUND({sql_dsum("actual - fc")}
             / COUNT(fc), 6) AS mean_bias
FROM with_fc WHERE fc IS NOT NULL
GROUP BY prio
""",
)
def ts_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy scoring: the seasonal-naive baseline (same
    month last year, the forecast every real model must beat) evaluated
    with WAPE and mean bias per priority class. WAPE over MAPE
    deliberately — MAPE explodes on near-zero actuals and weights small
    months equally; WAPE is the volume-weighted error a revenue
    dashboard actually wants. Numerator and denominator both accumulate
    in DECIMAL (order-exact), the final division is one double op,
    ROUND(6) absorbs its last ulp. The lag window runs on the
    months×priority grain — thousands of rows at any fact scale, after
    one partial-aggregated rollup of the facts."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
    ).agg(dsum("o_totalprice").alias("actual"))
    w = Window.partitionBy("prio").orderBy("m")
    wf = monthly.withColumn("fc", F.lag("actual", _FE_LAG).over(w)).filter(
        F.col("fc").isNotNull()
    )
    err = F.col("actual") - F.col("fc")
    return wf.groupBy("prio").agg(
        F.count("fc").alias("n_scored"),
        F.round(dsum(F.abs(err)) / dsum(F.abs("actual")), 6).alias("wape"),
        F.round(dsum(err) / F.count("fc"), 6).alias("mean_bias"),
    )


_DEC_W = 13  # centered 13-month trend window (±6)


@query(
    "ts_classical_decompose",
    oracle=f"""
WITH monthly AS (
  SELECT o_orderpriority AS prio,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         {sql_dsum("o_totalprice")} AS actual
  FROM orders GROUP BY 1, 2
),
tr AS (
  SELECT prio, m, actual,
         CASE WHEN COUNT(*) OVER w = {_DEC_W} THEN
           ROUND(CAST(SUM(CAST(actual AS {DEC})) OVER w AS DOUBLE)
                 / {_DEC_W}, 6)
         END AS trend
  FROM monthly
  WINDOW w AS (PARTITION BY prio ORDER BY m
               ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
),
det AS (
  SELECT prio, m, actual, trend,
         ROUND(actual - trend, 6) AS detrended,
         CAST(EXTRACT(MONTH FROM m) AS INT) AS moy
  FROM tr WHERE trend IS NOT NULL
),
seas AS (
  SELECT prio, moy,
         ROUND({sql_dsum("detrended")}
               / COUNT(*), 6) AS seasonal
  FROM det GROUP BY prio, moy
)
SELECT d.prio, d.m, d.actual, d.trend, s.seasonal,
       ROUND(d.detrended - s.seasonal, 6) AS residual
FROM det d JOIN seas s ON s.prio = d.prio AND s.moy = d.moy
""",
)
def ts_classical_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the monthly revenue series:
    trend = centered 13-month moving average (emitted only where
    the window is complete — partial-edge trends are statistical
    artifacts), seasonal = month-of-year mean of the detrended series,
    residual = the rest. The anomaly/forecast stack's missing third
    member: anomaly_zscore flags points, ts_forecast_eval scores a
    baseline, this explains WHERE the structure lives.

    Determinism chain (registry rules compounded): the MA sums DECIMAL
    then rounds; detrended is exact-minus-rounded, rounded; the
    seasonal mean re-enters DECIMAL via the already-6-decimal values
    (cast is exact) so its fold order can't drift. Everything runs on
    the months×priority grain — thousands of rows after one fact
    rollup, whatever the fact scale."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
    ).agg(dsum("o_totalprice").alias("actual"))
    w = (
        Window.partitionBy("prio")
        .orderBy("m")
        .rowsBetween(-6, 6)
    )
    tr = monthly.select(
        "prio",
        "m",
        "actual",
        F.when(
            F.count("*").over(w) == _DEC_W,
            F.round(
                F.sum(F.col("actual").cast(DEC)).over(w).cast("double")
                / _DEC_W,
                6,
            ),
        ).alias("trend"),
    )
    det = tr.filter(F.col("trend").isNotNull()).select(
        "prio",
        "m",
        "actual",
        "trend",
        F.round(F.col("actual") - F.col("trend"), 6).alias("detrended"),
        F.month("m").cast("int").alias("moy"),
    )
    seas = det.groupBy("prio", "moy").agg(
        F.round(
            dsum("detrended") / F.count("*"),
            6,
        ).alias("seasonal")
    )
    return det.join(F.broadcast(seas), ["prio", "moy"]).select(
        "prio",
        "m",
        "actual",
        "trend",
        "seasonal",
        F.round(F.col("detrended") - F.col("seasonal"), 6).alias("residual"),
    )


# ---------------------------------------------------------------------------
# Ljung–Box portmanteau test (multi-lag whiteness of the daily series)

_LB_MAX_LAG = 7


def _lb_sql() -> str:
    """DuckDB twin: exact HUGEINT aggregates, the identical double
    expression tree for each r_k (ROUND 6), then the Q statistic
    accumulated from those ROUNDED r_k — identical inputs → identical
    doubles (registry.py rules)."""
    leads = ",\n         ".join(
        f"LEAD(x, {k}) OVER (ORDER BY day) AS y{k}"
        for k in range(1, _LB_MAX_LAG + 1)
    )
    aggs = ",\n         ".join(
        f"COUNT(y{k}) AS nk{k},"
        f" CAST(SUM(CAST(x AS HUGEINT) * CAST(y{k} AS HUGEINT)) AS DOUBLE)"
        f" AS sxy{k},"
        f" CAST(SUM(CASE WHEN y{k} IS NOT NULL THEN x END) AS DOUBLE) AS sx{k},"
        f" CAST(SUM(y{k}) AS DOUBLE) AS sy{k}"
        for k in range(1, _LB_MAX_LAG + 1)
    )
    rs = ",\n         ".join(
        f"ROUND((sxy{k} - (s / n) * (sx{k} + sy{k}) + nk{k} * (s / n) * (s / n))"
        f" / (ss - s * s / n), 6) AS r{k}"
        for k in range(1, _LB_MAX_LAG + 1)
    )
    rows = []
    for k in range(1, _LB_MAX_LAG + 1):
        qsum = " + ".join(f"r{j} * r{j} / (n - {j})" for j in range(1, k + 1))
        rows.append(
            f"SELECT CAST({k} AS BIGINT) AS lag,"
            f" CAST(nk{k} AS BIGINT) AS n_pairs, r{k} AS acf,"
            f" ROUND(n * (n + 2) * ({qsum}), 4) AS q_stat FROM r"
        )
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
),
led AS (
  SELECT x,
         {leads}
  FROM daily
),
a AS (
  SELECT COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS s,
         CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS DOUBLE) AS ss,
         {aggs}
  FROM led
),
r AS (
  SELECT n,
         {rs},
         {", ".join(f"nk{k}" for k in range(1, _LB_MAX_LAG + 1))}
  FROM a
)
{chr(10).join("UNION ALL" + chr(10) + row if i else row for i, row in enumerate(rows))}
"""


@query("ts_ljung_box", oracle=_lb_sql())
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau whiteness test of the daily event-value
    series: the sample ACF at lags 1..7 (full-series mean/variance —
    the correlogram) plus the cumulative test statistic Q(h) =
    n(n+2)·Σ_{k≤h} r_k²/(n−k), the standard 'is there ANY serial
    structure up to lag h' gate run on forecast residuals
    (ts_forecast_eval) and before trusting ts_ewma smoothing. The
    lag-1-only persistence coefficient lives in ts_autocorr; this is
    the multi-lag test built on the whole correlogram, emitted
    long-form (lag, n_pairs, acf, q_stat).

    Determinism: the daily series is an exact integer-cents lattice;
    Σx, Σx², Σx·x₊ₖ are exact integer/decimal aggregates; each r_k is
    one identical IEEE double expression ROUNDed at 6, and Q
    accumulates the ROUNDED r_k (identical inputs → identical
    doubles), ROUNDed at 4. Scale shape: the fact scan collapses to
    |days| rows in one partial-aggregable groupBy; lag windows and
    algebra run over that aggregate (bounded-window rule), and
    inline() emits all lags from ONE row — the scan runs once, not
    per lag."""
    ev = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    daily = ev.groupBy("day").agg(F.sum("cents").cast("long").alias("x"))
    wl = Window.orderBy("day")
    led = daily.select(
        "x",
        *[
            F.lead("x", k).over(wl).alias(f"y{k}")
            for k in range(1, _LB_MAX_LAG + 1)
        ],
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    agg_cols = [
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("s"),
        F.sum(dec("x") * dec("x")).cast("double").alias("ss"),
    ]
    for k in range(1, _LB_MAX_LAG + 1):
        agg_cols += [
            F.count(f"y{k}").alias(f"nk{k}"),
            F.sum(dec("x") * dec(f"y{k}")).cast("double").alias(f"sxy{k}"),
            F.sum(F.when(F.col(f"y{k}").isNotNull(), F.col("x")))
            .cast("double")
            .alias(f"sx{k}"),
            F.sum(f"y{k}").cast("double").alias(f"sy{k}"),
        ]
    a = led.agg(*agg_cols)
    mean = F.col("s") / F.col("n")
    den = F.col("ss") - F.col("s") * F.col("s") / F.col("n")
    r = [
        F.round(
            (
                F.col(f"sxy{k}")
                - mean * (F.col(f"sx{k}") + F.col(f"sy{k}"))
                + F.col(f"nk{k}") * mean * mean
            )
            / den,
            6,
        )
        for k in range(1, _LB_MAX_LAG + 1)
    ]
    structs = []
    qsum = F.lit(0.0)
    for k in range(1, _LB_MAX_LAG + 1):
        rk = r[k - 1]
        qsum = qsum + rk * rk / (F.col("n") - F.lit(k))
        structs.append(
            F.struct(
                F.lit(k).cast("long").alias("lag"),
                F.col(f"nk{k}").cast("long").alias("n_pairs"),
                rk.alias("acf"),
                F.round(F.col("n") * (F.col("n") + 2) * qsum, 4).alias(
                    "q_stat"
                ),
            )
        )
    return a.select(F.inline(F.array(*structs)))


# ---------------------------------------------------------------------------
# Kaplan–Meier survival (user lifetime with right-censoring)

_KM_CENSOR_DAYS = 2  # last-active within the window tail → censored


@query(
    "ts_survival_km",
    oracle=f"""
WITH span AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
  FROM events GROUP BY user_id
),
g AS (SELECT MAX(d1) AS gmax FROM span),
lt AS (
  SELECT date_diff('day', d0, d1) AS lt,
         CASE WHEN date_diff('day', d1, gmax) <= {_KM_CENSOR_DAYS}
              THEN 1 ELSE 0 END AS cen
  FROM span, g
),
grp AS (
  SELECT lt,
         CAST(SUM(1 - cen) AS BIGINT) AS d,
         CAST(SUM(cen) AS BIGINT) AS c
  FROM lt GROUP BY lt
),
cum AS (
  SELECT lt, d, c,
         SUM(d + c) OVER () - SUM(d + c) OVER (ORDER BY lt
                                               ROWS UNBOUNDED PRECEDING)
           + d + c AS n_risk,
         SUM(d + c) OVER (ORDER BY lt ROWS UNBOUNDED PRECEDING) AS _rm
  FROM grp
),
f AS (
  SELECT lt, d, c, n_risk,
         1.0 - CAST(d AS DOUBLE) / n_risk AS factor
  FROM cum
),
s AS (
  SELECT lt, d, c, n_risk,
         MAX(CASE WHEN factor <= 0 THEN 1 ELSE 0 END)
           OVER (ORDER BY lt ROWS UNBOUNDED PRECEDING) AS dead_end,
         SUM(CASE WHEN factor > 0 THEN ln(factor) ELSE 0 END)
           OVER (ORDER BY lt ROWS UNBOUNDED PRECEDING) AS lnsum
  FROM f
)
SELECT CAST(lt AS BIGINT) AS lifetime_days,
       CAST(n_risk AS BIGINT) AS n_at_risk,
       d AS n_deaths, c AS n_censored,
       CASE WHEN dead_end = 1 THEN 0.0 ELSE ROUND(EXP(lnsum), 6) END
         AS survival
FROM s
""",
)
def ts_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of user lifetime (first→last activity
    span, days), with right-censoring: users still active in the
    window's final 3 days may churn later, so they
    leave the at-risk set WITHOUT counting as churn — the estimator
    cohort retention (win_retention_cohort) cannot express, and the
    backbone of churn/LTV analytics. S(t) = Π over death times t_i ≤ t of (1 − d_i/n_i)
    with censored users thinning n_i only.

    Determinism: d_i/n_i are exact integer ratios; the product is
    EXP(Σ ln(factor)) — libm ln/exp, so ROUND 6 (registry.py), with
    the n=d dead-end guarded to exact 0 on both engines (DuckDB's ln
    hard-errors at 0, Spark yields NULL — neither reaches it). Scale
    shape: the fact scan collapses to per-user spans (one
    partial-aggable groupBy), then |lifetimes| rows; windows run over
    that aggregate (bounded-window rule)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    span = ev.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    g = span.agg(F.max("d1").alias("gmax"))
    lt = span.join(F.broadcast(g)).select(
        F.datediff("d1", "d0").alias("lt"),
        F.when(
            F.datediff("gmax", "d1") <= _KM_CENSOR_DAYS, F.lit(1)
        ).otherwise(F.lit(0)).alias("cen"),
    )
    grp = lt.groupBy("lt").agg(
        F.sum(1 - F.col("cen")).cast("long").alias("d"),
        F.sum("cen").cast("long").alias("c"),
    )
    wcum = Window.orderBy("lt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = grp.select(
        "lt",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(wall)
            - F.sum(F.col("d") + F.col("c")).over(wcum)
            + F.col("d")
            + F.col("c")
        ).alias("n_risk"),
    )
    f = cum.withColumn(
        "factor", F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")
    )
    s = f.select(
        "lt",
        "d",
        "c",
        "n_risk",
        F.max(F.when(F.col("factor") <= 0, 1).otherwise(0))
        .over(wcum)
        .alias("dead_end"),
        F.sum(
            F.when(F.col("factor") > 0, F.log(F.col("factor"))).otherwise(0.0)
        )
        .over(wcum)
        .alias("lnsum"),
    )
    return s.select(
        F.col("lt").cast("long").alias("lifetime_days"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        F.col("d").alias("n_deaths"),
        F.col("c").alias("n_censored"),
        F.when(F.col("dead_end") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("lnsum"), 6))
        .alias("survival"),
    )


_CONC_SQL = f"""
WITH x AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
  FROM events
), s AS (
  SELECT user_id, tus,
         CAST(SUM(CASE WHEN prev IS NULL OR tus - prev > {_GAP_US}
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY tus, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM x
), sess AS (
  SELECT user_id, session_id, MIN(tus) AS t0_us, MAX(tus) AS t1_us
  FROM s GROUP BY user_id, session_id
), pts AS (
  SELECT user_id, session_id, t0_us AS t, 1 AS delta FROM sess
  UNION ALL
  SELECT user_id, session_id, t1_us AS t, -1 AS delta FROM sess
), c AS (
  SELECT t,
         CAST(SUM(delta) OVER (ORDER BY t, delta DESC, user_id, session_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
  FROM pts
)
SELECT t // 86400000000 AS day_no,
       MAX(conc) AS peak_concurrent,
       COUNT(*) AS n_points
FROM c GROUP BY 1
"""


@query("ts_session_concurrency", oracle=_CONC_SQL)
def ts_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day by the SWEEP LINE: each session
    interval emits +1 at its start and -1 at its end, the running sum
    over the globally ordered point stream IS the concurrency curve,
    and the per-day MAX is the capacity-planning number every serving
    platform publishes. Touching intervals count as concurrent (starts
    order before ends at the same microsecond — delta DESC — with the
    (user_id, session_id) unique tiebreak making the whole walk
    engine-deterministic). Session intervals come from win_sessionize
    (same 30-minute gaps-and-islands CTE on both engines).

    Scale (the r7 VERDICT escalation, now implemented): the sweep is
    PRE-SPLIT BY DAY. Each day's points get a day-partitioned
    cumulative sum (local balance, an ordinary hash-partitioned
    window — session count grows with data, so a global-order window
    here would be the one-task bottleneck at 100×); the day's opening
    balance is the running sum of per-day NET deltas over all prior
    days — a K-row (K = #days) window, the only SinglePartition left
    and grain-bounded by the calendar, not the data. Since within a
    day the global order restricted to that day IS the day-local
    order (t determines the day), conc(point) = opening(day) +
    local_cum(point) exactly, so peak(day) = opening(day) +
    max(local_cum) — pure integer arithmetic, hash identical to the
    oracle's single global sweep."""
    sess = win_sessionize(spark, sf_dir)
    starts = sess.select(
        "user_id",
        "session_id",
        F.col("t0_us").alias("t"),
        F.lit(1).alias("delta"),
    )
    ends = sess.select(
        "user_id",
        "session_id",
        F.col("t1_us").alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = starts.unionAll(ends).withColumn(
        "day_no", F.expr("t div 86400000000")
    )
    wday = (
        Window.partitionBy("day_no")
        .orderBy(
            F.col("t").asc(),
            F.col("delta").desc(),
            F.col("user_id").asc(),
            F.col("session_id").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = pts.select(
        "day_no", "delta", F.sum("delta").over(wday).alias("local_cum")
    )
    per_day = local.groupBy("day_no").agg(
        F.max("local_cum").alias("max_local"),
        F.sum("delta").alias("net"),
        F.count("*").alias("n_points"),
    )
    # Opening balance: sessions span days, so a day can start with
    # sessions already open — the cumulative net of all PRIOR days.
    w_open = Window.orderBy("day_no").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return per_day.select(
        "day_no",
        (F.coalesce(F.sum("net").over(w_open), F.lit(0)) + F.col("max_local"))
        .cast("bigint")
        .alias("peak_concurrent"),
        "n_points",
    )


_TWAP_SQL = f"""
WITH x AS (
  SELECT event_type, epoch_us(ts) AS tus, event_id, value,
         epoch_us(ts) // 86400000000 AS day_no,
         LEAD(epoch_us(ts)) OVER (
           PARTITION BY event_type, epoch_us(ts) // 86400000000
           ORDER BY ts, event_id) AS nxt
  FROM events
),
w AS (
  SELECT event_type, day_no, value, nxt - tus AS dt_us
  FROM x WHERE nxt IS NOT NULL
)
SELECT event_type, day_no,
       COUNT(*) AS n_intervals,
       CASE WHEN SUM(CAST(dt_us AS {DEC})) > 0 THEN
         ROUND({sql_dsum("value * dt_us", DEC_WIDE)}
               / {sql_dsum("dt_us")}, 6)
       END AS twap
FROM w
GROUP BY 1, 2
"""


@query("ts_twap", oracle=_TWAP_SQL)
def ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per (event_type, day): each
    observation's value is weighted by how long it REMAINED the
    current quote (the gap to the next observation), so irregular
    sampling cannot bias the average the way the row-weighted mean —
    or agg_vwap's volume weighting — can when quotes cluster. The
    day's last observation carries no successor interval and drops
    (left-closed convention, documented here; carrying to midnight is
    the same plan with one COALESCE).

    Determinism: interval widths are exact integer microsecond
    differences; value*dt is one IEEE product snapped to `DEC_WIDE`
    (the dsum pattern) and both sums are order-exact — but at ~21
    significant digits the DECIMAL->DOUBLE conversion itself is no
    longer correctly rounded identically on both engines (measured: a
    1-ulp drift on 34 of 175 groups), so the ratio takes the standard
    ROUND(6), whose tie risk on a full-mantissa quotient is
    measure-zero.

    Scale: one lead() window per (event_type, day) partition — the
    natural hash partitioning, no global ordering — then a partial-agg
    groupBy at the same grain. The window and the aggregate reuse one
    exchange."""
    ev = load(spark, sf_dir, "events")
    tus = F.unix_micros("ts")
    day = F.expr("unix_micros(ts) div 86400000000")
    w = Window.partitionBy("event_type", "day_no").orderBy("tus", "event_id")
    x = ev.select(
        "event_type",
        tus.alias("tus"),
        "event_id",
        "value",
        day.alias("day_no"),
    ).withColumn("nxt", F.lead("tus").over(w))
    iv = x.filter(F.col("nxt").isNotNull()).select(
        "event_type",
        "day_no",
        "value",
        (F.col("nxt") - F.col("tus")).alias("dt_us"),
    )
    return iv.groupBy("event_type", "day_no").agg(
        F.count("*").alias("n_intervals"),
        # a group whose only intervals are zero-length (duplicate
        # timestamps) spans no time: TWAP undefined → NULL both sides
        F.when(
            F.sum(F.col("dt_us").cast(DEC)) > 0,
            F.round(
                dsum(F.col("value") * F.col("dt_us"), DEC_WIDE) / dsum("dt_us"), 6
            ),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("twap"),
    )


_XCORR_LAGS = 3  # lead-lag window: -3 .. +3 days

_XCORR_SQL = f"""
WITH {DAILY_EVENTS_SQL},
lags AS (
  SELECT UNNEST(generate_series(-{_XCORR_LAGS}, {_XCORR_LAGS})) AS lag
),
pairs AS (
  SELECT a.et AS type_a, b.et AS type_b, l.lag, a.v AS x, b.v AS y
  FROM daily a
  JOIN lags l ON TRUE
  JOIN daily b ON a.et < b.et AND b.day_no = a.day_no + l.lag
),
s AS (
  SELECT type_a, type_b, lag,
         COUNT(*) AS n,
         {sql_dsum("x", DEC_FINE)} AS sx,
         {sql_dsum("y", DEC_FINE)} AS sy,
         {sql_dsum("x * y", DEC_FINE)} AS sxy,
         {sql_dsum("x * x", DEC_FINE)} AS sxx,
         {sql_dsum("y * y", DEC_FINE)} AS syy
  FROM pairs GROUP BY 1, 2, 3
)
SELECT type_a, type_b, lag, n,
       ROUND((n * sxy - sx * sy)
             / SQRT(GREATEST(n * sxx - sx * sx, 0)
                    * GREATEST(n * syy - sy * sy, 0)), 6) AS xcorr
FROM s
WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
"""


@query("ts_cross_correlation", oracle=_XCORR_SQL)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between every pair of event-type
    daily series at lags -3..+3 days: Pearson's r of series A on day d
    against series B on day d+lag — the lead-lag DISCOVERY matrix
    (does A's move precede B's?) where ts_autocorr correlates one
    series with itself and agg_corr_covar correlates two columns of
    the same rows with no time structure at all. The argmax lag per
    pair is the shippable signal; the full matrix is emitted so the
    consumer sees the contrast.

    Determinism: `daily_events` means are bitwise; each (x, y)
    product is one IEEE op snapped to `DEC_FINE`; the power sums
    are order-exact; GREATEST(.., 0) guards the sqrt against
    cancellation-negative variances (DuckDB hard-errors where Spark
    yields NaN — CLAUDE.md); zero-variance cells are filtered on the
    SAME exact predicate both sides; ROUND(6) absorbs the division
    chain.

    Scale: the fact scan reduces to (event_type, day) grain in one
    partial agg; the lag join runs grain x lags (days x types x 7
    rows), never fact rows — at 100 TB this is the same plan with a
    bigger first exchange and an unchanged tail."""
    daily = daily_events(spark, sf_dir)
    lags = spark.range(-_XCORR_LAGS, _XCORR_LAGS + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(F.broadcast(lags))
        .join(
            b,
            (F.col("a.et") < F.col("b.et"))
            & (F.col("b.day_no") == F.col("a.day_no") + F.col("lag")),
        )
        .select(
            F.col("a.et").alias("type_a"),
            F.col("b.et").alias("type_b"),
            "lag",
            F.col("a.v").alias("x"),
            F.col("b.v").alias("y"),
        )
    )

    s = pairs.groupBy("type_a", "type_b", "lag").agg(
        F.count("*").alias("n"),
        dsum("x", DEC_FINE).alias("sx"),
        dsum("y", DEC_FINE).alias("sy"),
        dsum(F.col("x") * F.col("y"), DEC_FINE).alias("sxy"),
        dsum(F.col("x") * F.col("x"), DEC_FINE).alias("sxx"),
        dsum(F.col("y") * F.col("y"), DEC_FINE).alias("syy"),
    )
    n = F.col("n")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    r = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        F.greatest(varx, F.lit(0.0)) * F.greatest(vary, F.lit(0.0))
    )
    return s.filter((varx > 0) & (vary > 0)).select(
        "type_a",
        "type_b",
        "lag",
        "n",
        F.round(r, 6).alias("xcorr"),
    )


_PERIODS = (7, 14, 30)  # candidate cycle lengths, days

_PERIOD_SQL = f"""
WITH {DAILY_EVENTS_SQL},
g AS (
  SELECT et, COUNT(*) AS n,
         {sql_dsum("v", DEC_FINE)} AS sv,
         {sql_dsum("v * v", DEC_FINE)} AS svv
  FROM daily GROUP BY 1
),
ph AS (
  SELECT d.et, p.period, d.day_no % p.period AS phase,
         COUNT(*) AS np,
         {sql_dsum("d.v", DEC_FINE)} AS sp
  FROM daily d, LATERAL (
    SELECT UNNEST(ARRAY{list(_PERIODS)}) AS period) p
  GROUP BY 1, 2, 3
),
terms AS (
  SELECT ph.et, ph.period,
         CAST(ph.np * (ph.sp / ph.np - g.sv / g.n)
                    * (ph.sp / ph.np - g.sv / g.n)
              AS DECIMAL(30,12)) AS bt
  FROM ph JOIN g ON g.et = ph.et
)
SELECT t.et AS event_type, t.period,
       g.n AS n_days,
       ROUND(CAST(SUM(t.bt) AS DOUBLE)
             / (g.svv - g.sv * g.sv / g.n), 6) AS strength
FROM terms t JOIN g ON g.et = t.et
WHERE g.svv - g.sv * g.sv / g.n > 0
GROUP BY 1, 2, 3, g.svv, g.sv, g.n
"""


@query("ts_periodicity_strength", oracle=_PERIOD_SQL)
def ts_periodicity_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodicity detector by phase folding: for each candidate period
    P (7/14/30 days), fold the daily series onto day_no mod P and take
    the between-phase share of total variance (the ANOVA decomposition
    R² = SS_between/SS_total). A true P-cycle concentrates variance in
    the phase means (strength → its seasonal share); white noise gives
    ~(P-1)/(n-1). This is the frequency-domain complement of
    ts_autocorr (which tests ONE lag at a time) and ts_seasonal_profile
    (which assumes the month cycle); here the period is DETECTED —
    with zero trigonometry, so there is no cross-engine libm cos/sin
    to diverge: every input is an exact-sum ratio, every between-phase
    term is snapped to DECIMAL(30,12) before the P-term sum (fold-order
    exact), and ROUND(6) absorbs the final division chain.

    Scale: facts reduce to (type, day) in one partial agg; phase sums
    are a (type, period, phase) grain aggregate (≤ 51 rows per type);
    everything downstream is K-row algebra."""
    daily = daily_events(spark, sf_dir)
    g = daily.groupBy("et").agg(
        F.count("*").alias("n"),
        dsum("v", DEC_FINE).alias("sv"),
        dsum(F.col("v") * F.col("v"), DEC_FINE).alias("svv"),
    )
    periods = spark.createDataFrame(
        [(p,) for p in _PERIODS], "period int"
    )
    ph = (
        daily.join(F.broadcast(periods))
        .groupBy("et", "period", (F.col("day_no") % F.col("period")).alias("phase"))
        .agg(
            F.count("*").alias("np"),
            dsum("v", DEC_FINE).alias("sp"),
        )
    )
    pm = F.col("sp") / F.col("np")
    gm = F.col("sv") / F.col("n")
    terms = ph.join(F.broadcast(g), "et").select(
        "et",
        "period",
        "n",
        "sv",
        "svv",
        (F.col("np") * (pm - gm) * (pm - gm)).cast("decimal(30,12)").alias("bt"),
    )
    return (
        # Zero-variance guard (identical exact predicate in the oracle's
        # WHERE): a constant daily series makes SS_total exactly 0 and
        # the hostile ANSI session would raise DIVIDE_BY_ZERO where
        # DuckDB yields a non-error value — filter the degenerate group
        # out on BOTH engines instead (ts_cross_correlation's varx>0
        # discipline).
        terms.filter(
            F.col("svv") - F.col("sv") * F.col("sv") / F.col("n") > 0
        )
        .groupBy(
            F.col("et").alias("event_type"),
            "period",
            F.col("n").alias("n_days"),
            "sv",
            "svv",
        )
        .agg(
            F.round(
                F.sum("bt").cast("double")
                / (F.col("svv") - F.col("sv") * F.col("sv") / F.col("n_days")),
                6,
            ).alias("strength")
        )
        .select("event_type", "period", "n_days", "strength")
    )


_MK_SQL = f"""
WITH {DAILY_EVENTS_SQL},
pairs AS (
  SELECT a.et,
         CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b
    ON b.et = a.et AND b.day_no > a.day_no
),
s AS (
  SELECT et, CAST(SUM(sgn) AS BIGINT) AS s_stat FROM pairs GROUP BY 1
),
n AS (SELECT et, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily GROUP BY 1),
ties AS (
  SELECT et,
         CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
  FROM (SELECT et, v, CAST(COUNT(*) AS BIGINT) AS t
        FROM daily GROUP BY 1, 2)
  WHERE t > 1 GROUP BY 1
),
var AS (
  SELECT n.et, n.n_days, s.s_stat,
         CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
              - COALESCE(t.tie_term, 0) AS DOUBLE) / 18.0 AS var_s
  FROM n JOIN s ON s.et = n.et LEFT JOIN ties t ON t.et = n.et
)
SELECT et AS event_type, n_days, s_stat, var_s,
       ROUND(CASE WHEN s_stat > 0 THEN (s_stat - 1) / SQRT(var_s)
                  WHEN s_stat < 0 THEN (s_stat + 1) / SQRT(var_s)
                  ELSE 0.0 END, 6) AS z_mk
FROM var
WHERE var_s > 0
"""


@query("ts_mann_kendall", oracle=_MK_SQL)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend TEST per event type: the nonparametric
    significance companion to ts_theil_sen's slope ESTIMATE (the
    standard pairing in environmental/market trend monitoring —
    Theil-Sen says how steep, Mann-Kendall says whether it's real).
    S = sum of sign(v_j - v_i) over all day pairs i<j; Var(S) carries
    the tie correction sum t(t-1)(2t+5)/18; the z statistic applies
    the +/-1 continuity correction. Everything upstream of the final
    division is integer or bitwise-identical-double arithmetic: daily
    means are exact-decimal-sum / count ratios (identical IEEE doubles
    both engines), the sign comparisons on them are therefore
    identical, S and the tie term are exact BIGINT sums, and only
    z takes ROUND(6) for its sqrt/division chain. Zero-variance
    groups (all days tied) are filtered by the identical exact
    predicate both sides — the ts_periodicity_strength discipline.

    Scale: facts reduce to (type, day) grain in one partial agg; the
    pair self-join is grain-bounded (days², ~133k pairs per type-year —
    constant in fact cardinality, the ts_theil_sen audit argument);
    ties and moments are K-row aggregates.

    Reference parity: the reference never tests its price trends
    (fetch_data.py has no analytics at all); this is the missing
    monitoring primitive for its 3-hourly harvest loop."""
    daily = daily_events(spark, sf_dir)
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("b.et") == F.col("a.et"))
        & (F.col("b.day_no") > F.col("a.day_no")),
    ).select(
        F.col("a.et").alias("et"),
        F.when(F.col("b.v") > F.col("a.v"), 1)
        .when(F.col("b.v") < F.col("a.v"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    s = pairs.groupBy("et").agg(F.sum("sgn").cast("bigint").alias("s_stat"))
    n = daily.groupBy("et").agg(F.count("*").cast("bigint").alias("n_days"))
    t = F.col("t")
    ties = (
        daily.groupBy("et", "v")
        .agg(F.count("*").cast("bigint").alias("t"))
        .filter(t > 1)
        .groupBy("et")
        .agg(
            F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0))
            .cast("bigint")
            .alias("tie_term")
        )
    )
    nd = F.col("n_days")
    var = (
        n.join(s, "et")
        .join(ties, "et", "left")
        .select(
            "et",
            "n_days",
            "s_stat",
            (
                (
                    nd * (nd - 1) * (2 * nd + 5)
                    - F.coalesce(F.col("tie_term"), F.lit(0))
                ).cast("double")
                / F.lit(18.0)
            ).alias("var_s"),
        )
    )
    ss = F.col("s_stat")
    z = (
        F.when(ss > 0, (ss - 1) / F.sqrt(F.col("var_s")))
        .when(ss < 0, (ss + 1) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    return var.filter(F.col("var_s") > 0).select(
        F.col("et").alias("event_type"),
        "n_days",
        "s_stat",
        "var_s",
        F.round(z, 6).alias("z_mk"),
    )


_LTTB_B = 24  # output buckets per series

_LTTB_SQL = f"""
WITH {DAILY_EVENTS_SQL},
n AS (SELECT et, CAST(COUNT(*) AS BIGINT) AS n FROM daily GROUP BY 1),
r AS (
  SELECT d.et, d.day_no, d.v, n.n,
         ROW_NUMBER() OVER (PARTITION BY d.et ORDER BY d.day_no) AS rn
  FROM daily d JOIN n ON n.et = d.et
),
b AS (
  SELECT et, day_no, v, rn, n,
         CAST(((rn - 1) * {_LTTB_B}) // n AS BIGINT) AS bkt
  FROM r
),
anch AS (
  SELECT et, bkt,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(day_no) AS BIGINT) AS sx,
         CAST(SUM(CAST(FLOOR(v * 1e9) AS BIGINT)) AS BIGINT) AS syl
  FROM b GROUP BY 1, 2
),
nb AS (
  SELECT et, bkt,
         LAG(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE))
           OVER (PARTITION BY et ORDER BY bkt) AS px,
         LAG(CAST(syl AS DOUBLE) / CAST(cnt AS DOUBLE) / 1e9)
           OVER (PARTITION BY et ORDER BY bkt) AS py,
         LEAD(CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE))
           OVER (PARTITION BY et ORDER BY bkt) AS nx,
         LEAD(CAST(syl AS DOUBLE) / CAST(cnt AS DOUBLE) / 1e9)
           OVER (PARTITION BY et ORDER BY bkt) AS ny,
         MAX(bkt) OVER (PARTITION BY et) AS maxb
  FROM anch
),
scored AS (
  SELECT b.et, b.day_no, b.v, b.bkt,
         ROW_NUMBER() OVER (
           PARTITION BY b.et, b.bkt
           ORDER BY (CASE
             WHEN b.bkt = 0 THEN CAST(-b.rn AS DOUBLE)
             WHEN b.bkt = nb.maxb THEN CAST(b.rn AS DOUBLE)
             ELSE ABS((nb.px - nb.nx) * (b.v - nb.py)
                      - (nb.px - CAST(b.day_no AS DOUBLE))
                        * (nb.ny - nb.py))
           END) DESC, b.day_no ASC) AS pick
  FROM b JOIN nb ON nb.et = b.et AND nb.bkt = b.bkt
)
SELECT et AS event_type, bkt, day_no, v
FROM scored WHERE pick = 1
"""


@query("ts_downsample_lttb", oracle=_LTTB_SQL)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling of each daily series
    to a fixed 24-point sketch — the standard visualization reducer
    (Steinarsson 2013; what Grafana/Influx apply before plotting):
    split the series into 24 rank buckets, keep the first and last
    points verbatim, and from every interior bucket keep the point
    forming the LARGEST TRIANGLE with its neighbor buckets' anchor
    points, preserving spikes and inflections a plain bucket-mean
    decimator smears away. Sequential LTTB anchors on the previously
    SELECTED point; this is the bucket-average-anchor variant — the
    accepted parallel form, since every bucket then scores
    independently.

    Determinism: bucket ids are pure integer floor division of ranks
    (day_no is unique per series, so ranks are total); anchors are
    exact-integer sums (day sum BIGINT, value sum on the FLOOR(v*1e9)
    lattice) converted once to doubles; the triangle area is one fixed
    IEEE expression of those — identical both engines — and the argmax
    orders by (area DESC, day ASC), a total order. First/last buckets
    rank by +/-rn through the same CASE key, so one window serves all
    three selection rules.

    Scale: facts reduce to (type, day) grain in one partial agg; the
    rank and anchor windows run per-series on calendar-bounded rows
    (the CLAUDE.md grain-bounded exemption); at 100 TB the reduced
    series per (metric, year) stays a few hundred points while raw
    events are billions — the whole point of shipping the downsample
    as an operator."""
    daily = daily_events(spark, sf_dir)
    n = daily.groupBy("et").agg(F.count("*").cast("bigint").alias("n"))
    w_rn = Window.partitionBy("et").orderBy("day_no")
    b = (
        daily.join(F.broadcast(n), "et")
        .withColumn("rn", F.row_number().over(w_rn).cast("bigint"))
        .withColumn(
            "bkt", F.expr(f"((rn - 1) * {_LTTB_B}) div n").cast("bigint")
        )
    )
    anch = b.groupBy("et", "bkt").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("day_no").cast("bigint").alias("sx"),
        F.sum(F.floor(F.col("v") * F.lit(1e9)).cast("bigint"))
        .cast("bigint")
        .alias("syl"),
    )
    ax = F.col("sx").cast("double") / F.col("cnt").cast("double")
    ay = F.col("syl").cast("double") / F.col("cnt").cast("double") / F.lit(
        1e9
    )
    w_b = Window.partitionBy("et").orderBy("bkt")
    nb = anch.select(
        "et",
        "bkt",
        F.lag(ax).over(w_b).alias("px"),
        F.lag(ay).over(w_b).alias("py"),
        F.lead(ax).over(w_b).alias("nx"),
        F.lead(ay).over(w_b).alias("ny"),
        F.max("bkt").over(Window.partitionBy("et")).alias("maxb"),
    )
    area = F.abs(
        (F.col("px") - F.col("nx")) * (F.col("v") - F.col("py"))
        - (F.col("px") - F.col("day_no").cast("double"))
        * (F.col("ny") - F.col("py"))
    )
    key = (
        F.when(F.col("bkt") == 0, (-F.col("rn")).cast("double"))
        .when(F.col("bkt") == F.col("maxb"), F.col("rn").cast("double"))
        .otherwise(area)
    )
    w_pick = Window.partitionBy("et", "bkt").orderBy(
        key.desc(), F.col("day_no").asc()
    )
    return (
        b.join(F.broadcast(nb), ["et", "bkt"])
        .withColumn("pick", F.row_number().over(w_pick))
        .filter(F.col("pick") == 1)
        .select(F.col("et").alias("event_type"), "bkt", "day_no", "v")
    )


_GRANGER_SQL = f"""
WITH {DAILY_EVENTS_SQL},
rows_ AS (
  SELECT dx.et AS cause, dy.et AS effect,
         dy.v AS y, dl.v AS u, dx.v AS x
  FROM daily dy
  JOIN daily dl ON dl.et = dy.et AND dl.day_no = dy.day_no - 1
  JOIN daily dx ON dx.day_no = dy.day_no - 1 AND dx.et <> dy.et
),
m AS (
  SELECT cause, effect, CAST(COUNT(*) AS BIGINT) AS n,
         {sql_dsum("y", DEC_FINE)} AS sy,
         {sql_dsum("u", DEC_FINE)} AS su,
         {sql_dsum("x", DEC_FINE)} AS sx,
         {sql_dsum("y * u", DEC_FINE)} AS syu,
         {sql_dsum("y * x", DEC_FINE)} AS syx,
         {sql_dsum("u * u", DEC_FINE)} AS suu,
         {sql_dsum("x * x", DEC_FINE)} AS sxx,
         {sql_dsum("u * x", DEC_FINE)} AS sux,
         {sql_dsum("y * y", DEC_FINE)} AS syy
  FROM rows_ GROUP BY 1, 2
),
c AS (
  SELECT cause, effect, n,
         syy - sy * sy / n AS cyy,
         suu - su * su / n AS cuu,
         sxx - sx * sx / n AS cxx,
         syu - sy * su / n AS cyu,
         syx - sy * sx / n AS cyx,
         sux - su * sx / n AS cux
  FROM m
),
fit AS (
  SELECT cause, effect, n, cyy, cuu, cyu, cyx,
         cuu * cxx - cux * cux AS det,
         cyu * cxx - cyx * cux AS bnum,
         cyx * cuu - cyu * cux AS gnum
  FROM c
)
SELECT cause, effect, n,
       ROUND(bnum / det, 6) AS beta_lag,
       ROUND(gnum / det, 6) AS gamma_cause,
       ROUND(((cyy - cyu * cyu / cuu)
              - (cyy - (bnum / det) * cyu - (gnum / det) * cyx))
             * (n - 3)
             / (cyy - (bnum / det) * cyu - (gnum / det) * cyx), 6) AS f_stat
FROM fit
WHERE det > 0 AND cuu > 0 AND n > 3
  AND cyy - (bnum / det) * cyu - (gnum / det) * cyx > 0
"""


@query("ts_granger_causality", oracle=_GRANGER_SQL)
def ts_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-causality screen over every ordered pair of daily
    series: does yesterday's CAUSE series improve the prediction of
    today's EFFECT beyond the effect's own lag? Unrestricted AR(1)+X
    vs restricted AR(1), both solved in closed form from exact moment
    sums (ml_ridge_closed_form's sufficient-statistics discipline),
    F = (RSS_r - RSS_u)(n-3)/RSS_u with one exogenous regressor.
    ts_cross_correlation reports lead-lag ASSOCIATION; this adds the
    incremental-predictability DIRECTION the correlation matrix cannot
    distinguish. (Granger causality is predictive, not mechanistic —
    the standard caveat rides with the name.)

    Determinism: `daily_events` means are bitwise; every product
    moment snaps to `DEC_FINE` before its order-exact sum (the
    ts_cross_correlation pattern); the normal-equation solve is one
    fixed IEEE tree and the outputs take ROUND(6); degenerate pairs
    (singular design, zero residual, short overlap) are filtered by
    identical exact predicates both sides.

    Scale: facts reduce to (type, day) grain in one partial agg; the
    triple alignment join is day-blocked (types per day x types —
    grain-bounded like ts_theil_sen's pair join); moments are one
    partial agg per ordered pair; the solve is K-row algebra."""
    daily = daily_events(spark, sf_dir)
    dy = daily.select(
        F.col("et").alias("effect"), "day_no", F.col("v").alias("y")
    )
    dl = daily.select(
        F.col("et").alias("l_et"),
        (F.col("day_no") + 1).alias("day_no"),
        F.col("v").alias("u"),
    )
    dx = daily.select(
        F.col("et").alias("cause"),
        (F.col("day_no") + 1).alias("day_no"),
        F.col("v").alias("x"),
    )
    rows = (
        dy.join(dl, (dl.l_et == dy.effect) & (dl.day_no == dy.day_no))
        .join(
            dx,
            (dx.day_no == dy.day_no) & (dx.cause != dy.effect),
        )
        .select("cause", "effect", "y", "u", "x")
    )

    y, u, x = F.col("y"), F.col("u"), F.col("x")
    m = rows.groupBy("cause", "effect").agg(
        F.count("*").cast("bigint").alias("n"),
        dsum(y, DEC_FINE).alias("sy"),
        dsum(u, DEC_FINE).alias("su"),
        dsum(x, DEC_FINE).alias("sx"),
        dsum(y * u, DEC_FINE).alias("syu"),
        dsum(y * x, DEC_FINE).alias("syx"),
        dsum(u * u, DEC_FINE).alias("suu"),
        dsum(x * x, DEC_FINE).alias("sxx"),
        dsum(u * x, DEC_FINE).alias("sux"),
        dsum(y * y, DEC_FINE).alias("syy"),
    )
    n = F.col("n")
    cexp = {
        "cyy": F.col("syy") - F.col("sy") * F.col("sy") / n,
        "cuu": F.col("suu") - F.col("su") * F.col("su") / n,
        "cxx": F.col("sxx") - F.col("sx") * F.col("sx") / n,
        "cyu": F.col("syu") - F.col("sy") * F.col("su") / n,
        "cyx": F.col("syx") - F.col("sy") * F.col("sx") / n,
        "cux": F.col("sux") - F.col("su") * F.col("sx") / n,
    }
    c = m.select(
        "cause", "effect", "n", *[v.alias(k) for k, v in cexp.items()]
    )
    det = F.col("cuu") * F.col("cxx") - F.col("cux") * F.col("cux")
    bnum = F.col("cyu") * F.col("cxx") - F.col("cyx") * F.col("cux")
    gnum = F.col("cyx") * F.col("cuu") - F.col("cyu") * F.col("cux")
    fit = c.select(
        "cause", "effect", "n", "cyy", "cuu", "cyu", "cyx",
        det.alias("det"), bnum.alias("bnum"), gnum.alias("gnum"),
    )
    beta = F.col("bnum") / F.col("det")
    gamma = F.col("gnum") / F.col("det")
    rss_u = F.col("cyy") - beta * F.col("cyu") - gamma * F.col("cyx")
    rss_r = F.col("cyy") - F.col("cyu") * F.col("cyu") / F.col("cuu")
    return (
        fit.filter(
            (F.col("det") > 0) & (F.col("cuu") > 0) & (F.col("n") > 3)
            & (rss_u > 0)
        )
        .select(
            "cause",
            "effect",
            "n",
            F.round(beta, 6).alias("beta_lag"),
            F.round(gamma, 6).alias("gamma_cause"),
            F.round((rss_r - rss_u) * (F.col("n") - 3) / rss_u, 6).alias(
                "f_stat"
            ),
        )
    )


_HURST_NS = (8, 16, 32, 64)  # R/S window sizes (log2 = 3..6, exact x)

_HURST_SQL = f"""
WITH {DAILY_EVENTS_SQL},
lat AS (
  SELECT et, day_no, v,
         CAST(FLOOR(v * 1e6 + 0.5) AS BIGINT) AS vl,
         ROW_NUMBER() OVER (PARTITION BY et ORDER BY day_no) AS rk
  FROM daily
),
blocks AS (
  SELECT l.et, ns.n, (l.rk - 1) // ns.n AS blk, l.day_no, l.v, l.vl, l.rk
  FROM lat l, LATERAL (
    SELECT UNNEST(ARRAY{list(_HURST_NS)}) AS n) ns
),
full_blocks AS (
  SELECT et, n, blk,
         CAST(SUM(vl) AS BIGINT) AS s_l,
         {sql_dsum("v", DEC_FINE)} AS sv,
         {sql_dsum("v * v", DEC_FINE)} AS svv,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM blocks GROUP BY 1, 2, 3 HAVING COUNT(*) = n
),
cum AS (
  SELECT b.et, b.n, b.blk,
         CAST(b.n AS BIGINT)
           * CAST(SUM(b.vl) OVER (PARTITION BY b.et, b.n, b.blk
                                  ORDER BY b.rk
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           - CAST(ROW_NUMBER() OVER (PARTITION BY b.et, b.n, b.blk
                                     ORDER BY b.rk) AS BIGINT)
             * f.s_l AS dev
  FROM blocks b JOIN full_blocks f
    ON f.et = b.et AND f.n = b.n AND f.blk = b.blk
),
rs AS (
  SELECT c.et, c.n, c.blk,
         CAST(FLOOR(
           (CAST(MAX(c.dev) - MIN(c.dev) AS DOUBLE)
            / (CAST(f.n AS DOUBLE) * 1e6))
           / SQRT(GREATEST(f.svv / f.cnt - (f.sv / f.cnt) * (f.sv / f.cnt),
                           0) + 1e-18)
           * 1e6 + 0.5) AS BIGINT) AS rs_l
  FROM cum c JOIN full_blocks f
    ON f.et = c.et AND f.n = c.n AND f.blk = c.blk
  GROUP BY c.et, c.n, c.blk, f.n, f.svv, f.sv, f.cnt
),
pts AS (
  SELECT et, n,
         CAST(SUM(rs_l) AS BIGINT) AS s_rs,
         CAST(COUNT(*) AS BIGINT) AS nb
  FROM rs GROUP BY 1, 2
),
xy AS (
  SELECT et,
         CAST(CASE n WHEN 8 THEN 3 WHEN 16 THEN 4 WHEN 32 THEN 5
                     ELSE 6 END AS BIGINT) AS x,
         CAST(FLOOR(ROUND(log2(CAST(s_rs AS DOUBLE)
                                / (CAST(nb AS DOUBLE) * 1e6)), 9)
                    * 1e9 + 0.5) AS BIGINT) AS y9
  FROM pts WHERE s_rs > 0
),
fit AS (
  SELECT et, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y9) AS BIGINT) AS sy,
         CAST(SUM(x * y9) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM xy GROUP BY 1
)
SELECT et AS event_type, k AS n_scales,
       ROUND(CAST(k * sxy - sx * sy AS DOUBLE)
             / CAST(k * sxx - sx * sx AS DOUBLE) / 1e9, 6) AS hurst
FROM fit WHERE k >= 2 AND k * sxx - sx * sx > 0
"""


@query("ts_hurst_exponent", oracle=_HURST_SQL)
def ts_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by classical rescaled-range (R/S) analysis per
    daily series: split into blocks of n in {8,16,32,64} days, per
    block take the RANGE of cumulative mean-deviations over the
    std ((R/S)), average per scale, and fit the log2-log2 slope —
    H > 0.5 long-memory persistence, < 0.5 mean reversion, = 0.5 a
    random walk. The long-range-dependence complement to ts_autocorr
    (one lag) and ts_periodicity_strength (fixed cycles).

    Determinism ledger: cumulative deviations run on EXACT integers
    (n·Σvl - t·S_block over the FLOOR(v·1e6+0.5) lattice — windowed
    double sums would be fold-order-dependent); block std comes from
    DECIMAL-exact moments (+1e-18 so a constant block yields a finite,
    engine-identical ~0 R/S instead of 0/0); per-block R/S snaps to a
    1e-6 lattice BEFORE the cross-block average (double sums again);
    scale x is the EXACT integer log2(n); y takes the transcendental
    ROUND(9) then a lossless 1e9 lattice so the slope's moment sums
    are pure BIGINT; the final slope is one fixed IEEE tree ROUND(6).

    Scale: facts reduce to (type, day); ranks and block windows are
    calendar-bounded per series (grain exemption); everything after
    full_blocks is (type, scale, block) grain algebra."""
    daily = daily_events(spark, sf_dir)
    w_rk = Window.partitionBy("et").orderBy("day_no")
    lat = daily.select(
        "et",
        "day_no",
        "v",
        F.floor(F.col("v") * 1e6 + F.lit(0.5)).cast("bigint").alias("vl"),
        F.row_number().over(w_rk).alias("rk"),
    )
    ns = F.explode(
        F.array(*[F.lit(n) for n in _HURST_NS])
    ).alias("n")
    blocks = lat.select("et", "day_no", "v", "vl", "rk", ns).withColumn(
        "blk", F.expr("(rk - 1) div n")
    )
    fb = (
        blocks.groupBy("et", "n", "blk")
        .agg(
            F.sum("vl").cast("bigint").alias("s_l"),
            dsum("v", DEC_FINE).alias("sv"),
            dsum(F.col("v") * F.col("v"), DEC_FINE).alias("svv"),
            F.count("*").cast("bigint").alias("cnt"),
        )
        .filter(F.col("cnt") == F.col("n"))
    )
    w_cum = (
        Window.partitionBy("et", "n", "blk")
        .orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_rn = Window.partitionBy("et", "n", "blk").orderBy("rk")
    cum = (
        blocks.join(
            fb.select("et", "n", "blk", "s_l", "svv", "sv", "cnt"),
            ["et", "n", "blk"],
        )
        .select(
            "et",
            "n",
            "blk",
            "svv",
            "sv",
            "cnt",
            (
                F.col("n").cast("bigint")
                * F.sum("vl").over(w_cum).cast("bigint")
                - F.row_number().over(w_rn).cast("bigint") * F.col("s_l")
            ).alias("dev"),
        )
    )
    std = F.sqrt(
        F.greatest(
            F.col("svv") / F.col("cnt")
            - (F.col("sv") / F.col("cnt")) * (F.col("sv") / F.col("cnt")),
            F.lit(0.0),
        )
        + F.lit(1e-18)
    )
    rs = cum.groupBy("et", "n", "blk", "svv", "sv", "cnt").agg(
        F.floor(
            (
                (F.max("dev") - F.min("dev")).cast("double")
                / (F.col("n").cast("double") * F.lit(1e6))
            )
            / std
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("rs_l")
    )
    pts = rs.groupBy("et", "n").agg(
        F.sum("rs_l").cast("bigint").alias("s_rs"),
        F.count("*").cast("bigint").alias("nb"),
    )
    x = (
        F.when(F.col("n") == 8, 3)
        .when(F.col("n") == 16, 4)
        .when(F.col("n") == 32, 5)
        .otherwise(6)
        .cast("bigint")
    )
    y9 = F.floor(
        F.round(
            F.log2(
                F.col("s_rs").cast("double")
                / (F.col("nb").cast("double") * F.lit(1e6))
            ),
            9,
        )
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("bigint")
    xy = pts.filter(F.col("s_rs") > 0).select(
        "et", x.alias("x"), y9.alias("y9")
    )
    fit = xy.groupBy("et").agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y9").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y9")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    k = F.col("k")
    return (
        fit.filter(
            (k >= 2) & (k * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
        )
        .select(
            F.col("et").alias("event_type"),
            k.alias("n_scales"),
            F.round(
                (k * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
                / (k * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                / F.lit(1e9),
                6,
            ).alias("hurst"),
        )
    )


_VAR_PCT = 5  # tail percent: VaR/CVaR at the 95% confidence level

_VAR_SQL = f"""
WITH {DAILY_EVENTS_SQL},
ret AS (
  SELECT et, day_no,
         v - LAG(v) OVER (PARTITION BY et ORDER BY day_no) AS r
  FROM daily
),
rk AS (
  SELECT et, day_no, r,
         ROW_NUMBER() OVER (PARTITION BY et ORDER BY r, day_no) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY et) AS BIGINT) AS n
  FROM ret WHERE r IS NOT NULL
)
SELECT et AS event_type, MAX(n) AS n_ret,
       CAST((MAX(n) * {_VAR_PCT} + 99) // 100 AS BIGINT) AS k_tail,
       MAX(r) AS var_95,
       ROUND({sql_dsum("r", DEC_FINE)}
         / CAST((MAX(n) * {_VAR_PCT} + 99) // 100 AS DOUBLE), 6) AS cvar_95
FROM rk
WHERE rn <= (n * {_VAR_PCT} + 99) // 100
GROUP BY et
"""


@query("ts_var_cvar", oracle=_VAR_SQL)
def ts_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk and Conditional VaR (expected shortfall) of each
    daily series' one-day changes at the 95% level — the tail-risk
    pairing that completes the family around ts_max_drawdown (path
    risk) and anomaly_zscore (point risk): VaR is the k-th smallest
    daily change with k = ceil(0.05·n) (the empirical 5% quantile,
    lower-tail convention), CVaR the mean of the changes at or below
    it — the coherent-risk-measure refinement Basel moved to precisely
    because VaR alone ignores HOW BAD the tail is. Changes are
    first differences (no division — the exact-ratio discipline), so
    a price series' 'loss' is its day-over-day drop.

    Determinism: `daily_events` means are bitwise, so
    differences and their (r, day_no) rank order are identical both
    engines; k is pure integer ceiling arithmetic ((n·5+99) div 100);
    VaR is a VALUE from the data (no interpolation); CVaR accumulates
    the ≤k tail in `DEC_FINE` — the summed returns carry ~17
    significant digits, past the bitwise DECIMAL→DOUBLE span (measured:
    1 ulp on one group), so the ratio takes ROUND(6) both sides (the
    ts_twap rule).

    Scale: one partial agg to (type, day); the rank window rides the
    per-series calendar grain (the CLAUDE.md grain-bounded exemption);
    the tail filter and moments are K-row aggregates."""
    daily = daily_events(spark, sf_dir)
    w = Window.partitionBy("et").orderBy("day_no")
    ret = daily.select(
        "et", "day_no", (F.col("v") - F.lag("v").over(w)).alias("r")
    ).filter(F.col("r").isNotNull())
    w_rk = Window.partitionBy("et").orderBy("r", "day_no")
    w_n = Window.partitionBy("et")
    rk = ret.select(
        "et",
        "day_no",
        "r",
        F.row_number().over(w_rk).alias("rn"),
        F.count("*").over(w_n).cast("bigint").alias("n"),
    )
    tail = rk.filter(
        F.col("rn") <= F.expr(f"(n * {_VAR_PCT} + 99) div 100")
    )
    kk = F.expr(f"(max(n) * {_VAR_PCT} + 99) div 100").cast("bigint")
    return tail.groupBy(F.col("et").alias("event_type")).agg(
        F.max("n").alias("n_ret"),
        kk.alias("k_tail"),
        F.max("r").alias("var_95"),
        F.round(
            dsum("r", DEC_FINE) / kk.cast("double"),
            6,
        ).alias("cvar_95"),
    )


_HOLT_H = 7  # forecast horizon (days ahead)

_HOLT_SQL = f"""
WITH RECURSIVE {DAILY_EVENTS_SQL},
lat AS MATERIALIZED (
  SELECT et, CAST(FLOOR(v * 1e6 + 0.5) AS BIGINT) AS lv,
         ROW_NUMBER() OVER (PARTITION BY et ORDER BY day_no) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY et) AS BIGINT) AS n
  FROM daily
),
rec AS (
  SELECT et, rk, n, lv AS l, CAST(0 AS BIGINT) AS b
  FROM lat WHERE rk = 1
  UNION ALL
  SELECT d.et, d.rk, d.n,
         CAST(FLOOR((d.lv + r.l + r.b) / 2.0) AS BIGINT) AS l,
         CAST(FLOOR((CAST(FLOOR((d.lv + r.l + r.b) / 2.0) AS BIGINT)
                     - r.l + 3 * r.b) / 4.0) AS BIGINT) AS b
  FROM rec r JOIN lat d ON d.et = r.et AND d.rk = r.rk + 1
)
SELECT et AS event_type, n AS n_days,
       CAST(l AS DOUBLE) / 1e6 AS level,
       CAST(b AS DOUBLE) / 1e6 AS trend,
       CAST(l + {_HOLT_H} * b AS DOUBLE) / 1e6 AS fc{_HOLT_H}
FROM rec WHERE rk = n
"""


@query("ts_holt_forecast", oracle=_HOLT_SQL)
def ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing per daily series, plus
    the {_HOLT_H}-day-ahead forecast l_n + {_HOLT_H}·b_n — the TRAINED
    forecaster beside ts_forecast_eval's seasonal-naive BASELINE and
    ts_ewma's level-only smoother (Holt adds the trend state the
    level-only recursion systematically lags on drifting series).
    α = 1/2, β = 1/4 — exact binary fractions, so the recurrences

        l_t = floor((x_t + l_{{t-1}} + b_{{t-1}}) / 2)
        b_t = floor((l_t − l_{{t-1}} + 3·b_{{t-1}}) / 4)

    run on an exact BIGINT micro-unit lattice: every state is an
    integer, every division is an exact binary FLOOR (negative-safe —
    FLOOR(x/2.0) on both engines, never integer `div`, whose
    truncation direction differs from `//` below zero).

    This is the registry's genuinely SEQUENTIAL per-series recursion
    (no window can express a recurrence whose coefficient feeds back):
    Spark folds it inside the JVM (`fold_series`, state two BIGINTs),
    and the oracle is a DuckDB RECURSIVE CTE advancing all series in
    rank lockstep. Both engines produce identical integers, so the
    oracle is a full value hash with no rounding (outputs are exact
    multiples of 1e-6).

    Scale: facts reduce to (type, day) in one partial agg; the fold
    touches n_days elements per series and parallelizes across series
    with no Python worker."""
    level = "CAST(FLOOR((x.lv + acc.l + acc.b) / 2.0) AS BIGINT)"
    st = fold_series(
        _lattice_series(spark, sf_dir),
        "et",
        "day_no, lv",
        "named_struct('l', arr[0].lv, 'b', CAST(0 AS BIGINT))",
        f"named_struct('l', {level}, "
        f"'b', CAST(FLOOR(({level} - acc.l + 3 * acc.b) / 4.0) AS BIGINT))",
    )
    return st.selectExpr(
        "et AS event_type",
        "n AS n_days",
        "CAST(st.l AS DOUBLE) / 1e6 AS level",
        "CAST(st.b AS DOUBLE) / 1e6 AS trend",
        f"CAST(st.l + {_HOLT_H} * st.b AS DOUBLE) / 1e6 AS fc{_HOLT_H}",
    )


_RUNS_SQL = f"""
WITH {DAILY_EVENTS_SQL},
mu AS (
  SELECT et,
         {sql_dsum("v", DEC_FINE)} / COUNT(*) AS m
  FROM daily GROUP BY 1
),
sided AS (
  SELECT d.et, d.day_no,
         CASE WHEN d.v > mu.m THEN 1 WHEN d.v < mu.m THEN 0 END AS side
  FROM daily d JOIN mu ON mu.et = d.et
),
runs AS (
  SELECT et, side,
         CASE WHEN LAG(side) OVER (PARTITION BY et ORDER BY day_no)
                   IS DISTINCT FROM side THEN 1 ELSE 0 END AS brk
  FROM sided WHERE side IS NOT NULL
),
g AS (
  SELECT et,
         CAST(SUM(brk) AS BIGINT) AS n_runs,
         CAST(SUM(side) AS BIGINT) AS n1,
         CAST(COUNT(*) - SUM(side) AS BIGINT) AS n2,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM runs GROUP BY 1
)
SELECT et AS event_type, n1, n2, n_runs,
       (CAST(n_runs AS DOUBLE)
        - (2.0 * n1 * n2 / n + 1.0))
       / SQRT(GREATEST(
           2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
           / (CAST(n AS DOUBLE) * n * (n - 1)), 0) + 1e-300)
         AS z_runs
FROM g WHERE n1 > 0 AND n2 > 0 AND n > 2
"""


@query("ts_runs_test", oracle=_RUNS_SQL)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test of each daily series against its mean —
    the third member of the nonparametric randomness family
    (ts_mann_kendall asks 'is there monotone TREND', ts_ljung_box 'is
    there serial CORRELATION', this 'is the above/below-mean SEQUENCE
    random at all'): too FEW runs means clustering/regime persistence,
    too MANY means oscillation, and |z| is the distribution-free gate
    with no moment assumptions. The first run is counted by the
    LAG-IS-NULL break (IS DISTINCT FROM), so n_runs needs no +1
    constant.

    Determinism: the mean is an exact-DECIMAL ratio (bitwise), side
    comparisons on bitwise doubles are identical, exact-mean ties are
    DROPPED by the identical CASE both engines (the standard
    treatment); n_runs/n1/n2 are exact BIGINTs and z one fixed IEEE
    tree over them (sqrt is correctly rounded; GREATEST guards the
    degenerate variance) — bitwise, NO rounding (the agg_mannwhitney_u
    precedent).

    Scale: one partial agg to (type, day), a K-row moment broadcast,
    one lag window on the calendar-bounded series grain."""
    daily = daily_events(spark, sf_dir)
    mu = daily.groupBy("et").agg(
        (dsum("v", DEC_FINE) / F.count("*")).alias("m")
    )
    sided = (
        daily.join(F.broadcast(mu), "et")
        .select(
            "et",
            "day_no",
            F.when(F.col("v") > F.col("m"), 1)
            .when(F.col("v") < F.col("m"), 0)
            .alias("side"),
        )
        .filter(F.col("side").isNotNull())
    )
    w = Window.partitionBy("et").orderBy("day_no")
    runs = sided.select(
        "et",
        "side",
        (~F.lag("side").over(w).eqNullSafe(F.col("side")))
        .cast("int")
        .alias("brk"),
    )
    g = runs.groupBy(F.col("et").alias("event_type")).agg(
        F.sum("brk").cast("bigint").alias("n_runs"),
        F.sum("side").cast("bigint").alias("n1"),
        (F.count("*") - F.sum("side")).cast("bigint").alias("n2"),
        F.count("*").cast("bigint").alias("n"),
    )
    n1, n2, n = F.col("n1"), F.col("n2"), F.col("n")
    mu_r = 2.0 * n1 * n2 / n + 1.0
    var_r = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
        / (n.cast("double") * n * (n - 1))
    )
    return g.filter((n1 > 0) & (n2 > 0) & (n > 2)).select(
        "event_type",
        "n1",
        "n2",
        "n_runs",
        (
            (F.col("n_runs").cast("double") - mu_r)
            / F.sqrt(F.greatest(var_r, F.lit(0.0)) + F.lit(1e-300))
        ).alias("z_runs"),
    )


_ADF_SQL = f"""
WITH {DAILY_EVENTS_SQL},
p AS (
  SELECT et, day_no, v,
         LAG(v) OVER (PARTITION BY et ORDER BY day_no) AS yl
  FROM daily
),
r AS (
  SELECT et, yl AS x, v - yl AS d FROM p WHERE yl IS NOT NULL
),
m AS (
  SELECT et, CAST(COUNT(*) AS BIGINT) AS n,
         {sql_dsum("x", DEC_FINE)} AS sx,
         {sql_dsum("d", DEC_FINE)} AS sd,
         {sql_dsum("x * d", DEC_FINE)} AS sxd,
         {sql_dsum("x * x", DEC_FINE)} AS sxx,
         {sql_dsum("d * d", DEC_FINE)} AS sdd
  FROM r GROUP BY 1
),
f AS (
  SELECT et, n,
         n * sxx - sx * sx AS vx,
         n * sxd - sx * sd AS cxd,
         n * sdd - sd * sd AS vd,
         sxx, sx, sd, sxd, sdd
  FROM m
)
SELECT et AS event_type, n AS n_obs,
       ROUND(cxd / vx, 6) AS rho,
       ROUND((cxd / vx)
             / SQRT(GREATEST((vd - cxd * cxd / vx) / (n - 2), 0) / vx
                    + 1e-300), 6) AS tau
FROM f WHERE n > 2 AND vx > 0
"""


@query("ts_adf_unit_root", oracle=_ADF_SQL)
def ts_adf_unit_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey–Fuller unit-root test per daily series: regress the
    one-day change on the lagged level (with intercept, solved in
    closed form from exact moment sums — the ts_granger_causality
    discipline) and report ρ̂ and its t-ratio τ = ρ̂/SE(ρ̂). τ far
    below the ~-2.9 critical value rejects the unit root (the series
    is mean-reverting/stationary); τ near 0 says RANDOM WALK — the
    STATIONARITY member of the inference family (Mann-Kendall: trend;
    runs test: randomness of signs; Ljung-Box: serial correlation;
    Hurst: memory; this: does the level itself revert). The augmented
    variant adds Δy lags as extra regressors to the same
    sufficient-statistics solve.

    Determinism: `daily_events` means are bitwise; every product
    moment snaps to `DEC_FINE` before its order-exact sum; ρ and τ
    are ratios of such sums — the summed moments carry ~17+ significant
    digits (the r7 ts_twap DECIMAL→DOUBLE 1-ulp class), so both
    reported statistics take ROUND(6) on both engines; the variance
    under the sqrt is GREATEST-guarded (cancellation rule).

    Scale: one partial agg to (type, day), one lag window on the
    calendar-bounded series grain, one K-row moment aggregate, scalar
    algebra."""
    daily = daily_events(spark, sf_dir)
    w = Window.partitionBy("et").orderBy("day_no")
    r = (
        daily.select(
            "et", "v", F.lag("v").over(w).alias("yl")
        )
        .filter(F.col("yl").isNotNull())
        .select(
            "et",
            F.col("yl").alias("x"),
            (F.col("v") - F.col("yl")).alias("d"),
        )
    )

    x, d = F.col("x"), F.col("d")
    m = r.groupBy("et").agg(
        F.count("*").cast("bigint").alias("n"),
        dsum(x, DEC_FINE).alias("sx"),
        dsum(d, DEC_FINE).alias("sd"),
        dsum(x * d, DEC_FINE).alias("sxd"),
        dsum(x * x, DEC_FINE).alias("sxx"),
        dsum(d * d, DEC_FINE).alias("sdd"),
    )
    n = F.col("n")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    cxd = n * F.col("sxd") - F.col("sx") * F.col("sd")
    vd = n * F.col("sdd") - F.col("sd") * F.col("sd")
    rho = cxd / vx
    tau = rho / F.sqrt(
        F.greatest((vd - cxd * cxd / vx) / (n - 2), F.lit(0.0)) / vx
        + F.lit(1e-300)
    )
    return m.filter((n > 2) & (vx > 0)).select(
        F.col("et").alias("event_type"),
        n.alias("n_obs"),
        F.round(rho, 6).alias("rho"),
        F.round(tau, 6).alias("tau"),
    )


_HW_H = 7  # forecast horizon (days ahead)


def _hw_sql() -> str:
    """DuckDB twin of ts_holt_winters: the triple recurrence advanced
    in rank lockstep across all series, the 7 seasonal BIGINT slots
    carried as columns s0..s6 (one updated per step via CASE on the
    observed day's weekday phase). DuckDB's lateral column aliases
    name the intermediates (sprev → l_new → b_new → s_new) inside the
    recursive member's subquery, so every state expression appears
    once. Forecasts join a 7-row horizon frame and pick the phase
    slot of each future calendar day."""
    scols = ", ".join(f"s{j}" for j in range(7))
    sprev = "CASE ph " + " ".join(
        f"WHEN {j} THEN r.s{j}" for j in range(7)
    ) + " END"
    supd = ", ".join(
        f"CASE WHEN ph = {j} THEN s_new ELSE s{j} END AS s{j}"
        for j in range(7)
    )
    sfc = "CASE (max_day + h.h) % 7 " + " ".join(
        f"WHEN {j} THEN s{j}" for j in range(7)
    ) + " END"
    return f"""
WITH RECURSIVE {DAILY_EVENTS_SQL},
lat AS MATERIALIZED (
  SELECT et, day_no, CAST(FLOOR(v * 1e6 + 0.5) AS BIGINT) AS lv,
         ROW_NUMBER() OVER (PARTITION BY et ORDER BY day_no) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY et) AS BIGINT) AS n,
         CAST(MAX(day_no) OVER (PARTITION BY et) AS BIGINT) AS max_day
  FROM daily
),
rec AS (
  SELECT et, rk, n, max_day, lv AS l, CAST(0 AS BIGINT) AS b,
         {", ".join(f"CAST(0 AS BIGINT) AS s{j}" for j in range(7))}
  FROM lat WHERE rk = 1
  UNION ALL
  SELECT et, rk, n, max_day, l_new AS l, b_new AS b, {supd}
  FROM (
    SELECT d.et, d.rk, d.n, d.max_day, r.s0, r.s1, r.s2, r.s3, r.s4,
           r.s5, r.s6, d.day_no % 7 AS ph,
           {sprev} AS sprev,
           CAST(FLOOR((d.lv - sprev + r.l + r.b) / 2.0) AS BIGINT)
             AS l_new,
           CAST(FLOOR((l_new - r.l + 3 * r.b) / 4.0) AS BIGINT) AS b_new,
           CAST(FLOOR((d.lv - l_new + sprev) / 2.0) AS BIGINT) AS s_new
    FROM rec r JOIN lat d ON d.et = r.et AND d.rk = r.rk + 1
  )
)
SELECT et AS event_type, h.h, n AS n_days,
       CAST(l AS DOUBLE) / 1e6 AS level,
       CAST(b AS DOUBLE) / 1e6 AS trend,
       CAST(l + h.h * b + {sfc} AS DOUBLE) / 1e6 AS fc
FROM (SELECT et, n, max_day, l, b, {scols} FROM rec WHERE rk = n)
CROSS JOIN (SELECT UNNEST(generate_series(1, {_HW_H})) AS h) h
"""


@query("ts_holt_winters", oracle=_hw_sql())
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters — the SEASONAL completion of the
    exponential-smoothing family (ts_ewma smooths level,
    ts_holt_forecast adds trend; this adds the weekly profile both
    systematically lag on day-of-week-patterned series, which is what
    event telemetry IS). α = 1/2, β = 1/4, γ = 1/2 — all exact binary
    fractions, so the three recurrences

        l_t = floor((x_t − s_{{t-7}} + l_{{t-1}} + b_{{t-1}}) / 2)
        b_t = floor((l_t − l_{{t-1}} + 3·b_{{t-1}}) / 4)
        s_t = floor((x_t − l_t + s_{{t-7}}) / 2)

    run on the exact BIGINT micro-unit lattice with negative-safe
    binary FLOORs (FLOOR(x/2.0), never integer `div` — seasonal
    deviations and trends go negative). Seasonal slots index by TRUE
    weekday (day_no % 7), not observation rank, so calendar gaps
    can't rotate the profile; init l=x_1, b=0, s=0 (the smoothing
    absorbs init bias at γ=1/2 within a few weeks). Output: the
    {_HW_H}-day forecast fan l_n + h·b_n + s[(max_day+h) % 7] in long
    form — one row per (series, horizon).

    Spark folds the genuinely sequential recursion inside the JVM
    (`fold_series`: level, trend, last day and the 7 slots as an array
    the step rewrites with `transform`); the oracle is a DuckDB
    RECURSIVE CTE advancing all series in rank lockstep with the 7
    slots as carried BIGINT columns. Both produce identical integers —
    full value hash, zero rounding (outputs are exact 1e-6 multiples).

    Scale: facts reduce to (type, day) in one partial agg; the fold is
    O(n_days) per series with 10 BIGINTs of state, parallel across
    series, with no Python worker."""
    sprev = "acc.s[CAST(x.day_no % 7 AS INT)]"
    level = f"CAST(FLOOR((x.lv - {sprev} + acc.l + acc.b) / 2.0) AS BIGINT)"
    st = fold_series(
        _lattice_series(spark, sf_dir),
        "et",
        "day_no, lv",
        "named_struct('l', arr[0].lv, 'b', CAST(0 AS BIGINT), "
        "'s', array_repeat(CAST(0 AS BIGINT), 7), 'd', arr[0].day_no)",
        f"named_struct('l', {level}, "
        f"'b', CAST(FLOOR(({level} - acc.l + 3 * acc.b) / 4.0) AS BIGINT), "
        "'s', transform(acc.s, (v, j) -> IF(j = x.day_no % 7, "
        f"CAST(FLOOR((x.lv - {level} + {sprev}) / 2.0) AS BIGINT), v)), "
        "'d', x.day_no)",
    )
    return st.selectExpr(
        "et", "n", "st", f"explode(sequence(1L, {_HW_H}L)) AS h"
    ).selectExpr(
        "et AS event_type",
        "h",
        "n AS n_days",
        "CAST(st.l AS DOUBLE) / 1e6 AS level",
        "CAST(st.b AS DOUBLE) / 1e6 AS trend",
        "CAST(st.l + h * st.b + st.s[CAST((st.d + h) % 7 AS INT)] AS DOUBLE)"
        " / 1e6 AS fc",
    )


_QL_LAG = 12  # seasonal-naive: same month last year (ts_forecast_eval)
_QL_QS = (1, 5, 9)  # deci-quantiles: q = k/10

_QL_SQL = f"""
WITH monthly AS (
  SELECT o_orderpriority AS prio,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         CAST(FLOOR({sql_dsum("o_totalprice")} * 100 + 0.5) AS BIGINT) AS ac
  FROM orders GROUP BY 1, 2
),
wf AS (
  SELECT prio, m, ac,
         LAG(ac, {_QL_LAG}) OVER (PARTITION BY prio ORDER BY m) AS fc
  FROM monthly
),
d AS (
  SELECT prio, ac - fc AS diff FROM wf WHERE fc IS NOT NULL
),
q AS (SELECT UNNEST(ARRAY[{", ".join(str(k) for k in _QL_QS)}]) AS k)
SELECT d.prio, q.k,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       CAST(SUM(GREATEST(q.k * d.diff, (q.k - 10) * d.diff)) AS DOUBLE)
         / (COUNT(*) * 1000.0) AS pinball
FROM d CROSS JOIN q
GROUP BY 1, 2
"""


@query("ts_quantile_loss", oracle=_QL_SQL)
def ts_quantile_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of the seasonal-naive forecast at
    q ∈ {{0.1, 0.5, 0.9}} — the metric that completes the forecast-eval
    pairing (ts_forecast_eval scores the POINT forecast with WAPE/bias;
    real demand/price planning ships QUANTILE forecasts, and pinball
    loss L_q = max(q·(y−ŷ), (q−1)·(y−ŷ)) is their proper scoring rule:
    asymmetric penalties make over- vs under-forecasting visible, and
    q = 0.5 recovers half the MAE as a consistency anchor the test
    pins). Same forecast as ts_forecast_eval ({_QL_LAG}-month lag), so
    the two tables read one model.

    Determinism: monthly actuals snap to an exact cents BIGINT; the
    loss is computed CROSS-MULTIPLIED — max(k·d, (k−10)·d) with k the
    deci-quantile integer — so every term is an exact BIGINT (0.1 is
    not binary-representable; k/10 as a double would seed ulp drift),
    and the mean divides the exact sum by COUNT·1000 (cents × deci →
    currency units): one IEEE division, bitwise both engines,
    unrounded.

    Scale: one fact rollup to the months×priority grain, the same lag
    window as ts_forecast_eval, a 3-row quantile frame broadcast
    (NESTED_LOOP_OK), one partial agg."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
    ).agg(
        F.floor(
            dsum("o_totalprice") * 100
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("ac")
    )
    w = Window.partitionBy("prio").orderBy("m")
    d = (
        monthly.withColumn("fc", F.lag("ac", _QL_LAG).over(w))
        .filter(F.col("fc").isNotNull())
        .select("prio", (F.col("ac") - F.col("fc")).alias("diff"))
    )
    q = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _QL_QS])).alias("k")
    )
    return (
        d.crossJoin(F.broadcast(q))
        .groupBy("prio", "k")
        .agg(
            F.count("*").cast("bigint").alias("n_scored"),
            (
                F.sum(
                    F.greatest(
                        F.col("k") * F.col("diff"),
                        (F.col("k") - 10) * F.col("diff"),
                    )
                ).cast("double")
                / (F.count("*") * F.lit(1000.0))
            ).alias("pinball"),
        )
    )


_COINT_SQL = f"""
WITH {DAILY_EVENTS_SQL},
pair AS (
  SELECT a.et AS ye, b.et AS xe, a.day_no, a.v AS y, b.v AS x
  FROM daily a JOIN daily b
    ON a.day_no = b.day_no AND a.et <> b.et
),
m1 AS (
  SELECT ye, xe, CAST(COUNT(*) AS BIGINT) AS n,
         {sql_dsum("x", DEC_FINE)} AS sx,
         {sql_dsum("y", DEC_FINE)} AS sy,
         {sql_dsum("x * y", DEC_FINE)} AS sxy,
         {sql_dsum("x * x", DEC_FINE)} AS sxx
  FROM pair GROUP BY 1, 2
),
coef AS (
  SELECT ye, xe, n,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a
  FROM m1 WHERE n > 3 AND n * sxx - sx * sx > 0
),
z AS (
  SELECT p.ye, p.xe, p.day_no, p.y - c.a - c.b * p.x AS z
  FROM pair p JOIN coef c ON c.ye = p.ye AND c.xe = p.xe
),
zl AS (
  SELECT ye, xe, z,
         LAG(z) OVER (PARTITION BY ye, xe ORDER BY day_no) AS zp
  FROM z
),
m2 AS (
  SELECT ye, xe, CAST(COUNT(*) AS BIGINT) AS n2,
         {sql_dsum("zp * zp", DEC_FINE)} AS szz,
         {sql_dsum("zp * (z - zp)", DEC_FINE)} AS szd,
         {sql_dsum("(z - zp) * (z - zp)", DEC_FINE)} AS sdd
  FROM zl WHERE zp IS NOT NULL
  GROUP BY 1, 2
)
SELECT m2.ye AS y_series, m2.xe AS x_series,
       m2.n2 AS n_obs,
       ROUND(c.b, 6) AS beta,
       ROUND((m2.szd / m2.szz)
             / SQRT(GREATEST((m2.sdd - m2.szd * m2.szd / m2.szz)
                             / (m2.n2 - 1), 0) / m2.szz + 1e-300), 6)
         AS tau_eg
FROM m2 JOIN coef c ON c.ye = m2.ye AND c.xe = m2.xe
WHERE m2.szz > 0
"""


@query("ts_cointegration", oracle=_COINT_SQL)
def ts_cointegration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger two-step cointegration test per ordered series
    pair — the LONG-RUN-EQUILIBRIUM member completing the pairwise
    inference family (ts_granger_causality asks who PREDICTS whom;
    this asks whether two non-stationary series share a common
    stochastic trend, the pairs-trading / price-parity question:
    regress y on x in levels, then Dickey-Fuller the residual — if
    the residual mean-reverts (τ_EG far below ~-3.4), deviations from
    the fitted long-run relation are temporary and the pair is
    cointegrated; spurious-regression pairs leave a random-walk
    residual, τ near 0).

    Step 1 is the closed-form OLS (β, α) from DECIMAL-snapped moment
    sums (the ridge/granger discipline); step 2 is the NO-INTERCEPT
    Dickey-Fuller on the residual (residuals are mean-zero by
    construction; ts_adf_unit_root keeps the intercept for raw
    levels): ρ = Σz₋Δz / Σz₋², τ = ρ/SE from the same exact-moment
    algebra, GREATEST-guarding the variance (CLAUDE.md sqrt rule).

    Determinism: `daily_events` means are bitwise; α, β are ratios
    of order-exact DECIMAL sums — identical doubles both engines — so
    every residual is the same IEEE expression; second-stage moments
    snap to `DEC_FINE` before summation; both reported statistics
    take ROUND(6) (the 17-digit DECIMAL→DOUBLE class).

    Scale: the alignment self-join runs on the (type, day) grain —
    K-series × calendar rows, the ts_granger_causality shape measured
    sub-linear (SCALING.md) — and both moment passes are partial
    aggs; the coefficient frame is K²-row broadcast."""
    # feeds both sides of the alignment join and the residual pass
    daily = pin(daily_events(spark, sf_dir))
    a = daily.select(
        F.col("et").alias("ye"), "day_no", F.col("v").alias("y")
    )
    b = daily.select(
        F.col("et").alias("xe"), F.col("day_no").alias("dn2"),
        F.col("v").alias("x"),
    )
    pair = a.join(
        b, (F.col("day_no") == F.col("dn2")) & (F.col("ye") != F.col("xe"))
    ).select("ye", "xe", "day_no", "y", "x")

    x, y = F.col("x"), F.col("y")
    m1 = pair.groupBy("ye", "xe").agg(
        F.count("*").cast("bigint").alias("n"),
        dsum(x, DEC_FINE).alias("sx"),
        dsum(y, DEC_FINE).alias("sy"),
        dsum(x * y, DEC_FINE).alias("sxy"),
        dsum(x * x, DEC_FINE).alias("sxx"),
    )
    n = F.col("n")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    bb = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / vx
    coef = m1.filter((n > 3) & (vx > 0)).select(
        "ye",
        "xe",
        bb.alias("b"),
        ((F.col("sy") - bb * F.col("sx")) / n).alias("a"),
    )
    z = pair.join(F.broadcast(coef), ["ye", "xe"]).select(
        "ye",
        "xe",
        "day_no",
        (F.col("y") - F.col("a") - F.col("b") * F.col("x")).alias("z"),
    )
    wz = Window.partitionBy("ye", "xe").orderBy("day_no")
    zl = z.select(
        "ye", "xe", "z", F.lag("z").over(wz).alias("zp")
    ).filter(F.col("zp").isNotNull())
    zp, zc = F.col("zp"), F.col("z")
    m2 = zl.groupBy("ye", "xe").agg(
        F.count("*").cast("bigint").alias("n2"),
        dsum(zp * zp, DEC_FINE).alias("szz"),
        dsum(zp * (zc - zp), DEC_FINE).alias("szd"),
        dsum((zc - zp) * (zc - zp), DEC_FINE).alias("sdd"),
    )
    rho = F.col("szd") / F.col("szz")
    tau = rho / F.sqrt(
        F.greatest(
            (F.col("sdd") - F.col("szd") * F.col("szd") / F.col("szz"))
            / (F.col("n2") - 1),
            F.lit(0.0),
        )
        / F.col("szz")
        + F.lit(1e-300)
    )
    return (
        m2.filter(F.col("szz") > 0)
        .join(F.broadcast(coef), ["ye", "xe"])
        .select(
            F.col("ye").alias("y_series"),
            F.col("xe").alias("x_series"),
            F.col("n2").alias("n_obs"),
            F.round("b", 6).alias("beta"),
            F.round(tau, 6).alias("tau_eg"),
        )
    )


# ---------------------------------------------------------------------------
# Kalman filter (local-level model) — the adaptive-gain member of the
# smoothing family

_KAL_Q = 1.0  # process variance (level random walk step)
_KAL_R = 4.0  # observation variance
# Riccati fixed point: P'inf = (Q + sqrt(Q^2 + 4QR)) / 2, Kinf = P'/(P'+R)

_KALMAN_SQL = f"""
WITH RECURSIVE {DAILY_EVENTS_SQL},
lat AS MATERIALIZED (
  SELECT et,
         CAST(CAST(FLOOR(v * 1e6 + 0.5) AS BIGINT) AS DOUBLE) / 1e6 AS z,
         ROW_NUMBER() OVER (PARTITION BY et ORDER BY day_no) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY et) AS BIGINT) AS n
  FROM daily
),
rec AS (
  SELECT et, rk, n, z AS x, CAST({_KAL_R} AS DOUBLE) AS p,
         CAST(0 AS DOUBLE) AS k
  FROM lat WHERE rk = 1
  UNION ALL
  SELECT d.et, d.rk, d.n,
         r.x + ((r.p + {_KAL_Q}) / ((r.p + {_KAL_Q}) + {_KAL_R}))
               * (d.z - r.x) AS x,
         (1.0 - (r.p + {_KAL_Q}) / ((r.p + {_KAL_Q}) + {_KAL_R}))
           * (r.p + {_KAL_Q}) AS p,
         (r.p + {_KAL_Q}) / ((r.p + {_KAL_Q}) + {_KAL_R}) AS k
  FROM rec r JOIN lat d ON d.et = r.et AND d.rk = r.rk + 1
)
SELECT et AS event_type, n AS n_days,
       CAST(FLOOR(x * 1e6 + 0.5) AS BIGINT) AS level_lat,
       CAST(FLOOR(p * 1e9 + 0.5) AS BIGINT) AS pvar_lat,
       CAST(FLOOR(k * 1e9 + 0.5) AS BIGINT) AS gain_lat,
       CAST(FLOOR(
         ((({_KAL_Q} + sqrt({_KAL_Q} * {_KAL_Q}
                            + 4.0 * {_KAL_Q} * {_KAL_R})) / 2.0)
          / ((({_KAL_Q} + sqrt({_KAL_Q} * {_KAL_Q}
                               + 4.0 * {_KAL_Q} * {_KAL_R})) / 2.0)
             + {_KAL_R})) * 1e9 + 0.5) AS BIGINT) AS gain_steady_lat
FROM rec WHERE rk = n
"""


@query("ts_kalman_filter", oracle=_KALMAN_SQL)
def ts_kalman_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-level Kalman filter per daily series — the ADAPTIVE-GAIN
    member of the smoothing family: ts_ewma is the fixed-gain limit
    and ts_holt_forecast fixes α/β forever, but the Kalman recursion
    carries a variance state P_t and re-derives the gain each step
    (K_t = P'_t/(P'_t+R), P'_t = P_{t-1}+Q), so early observations are
    trusted more while the filter is uncertain and the gain CONVERGES
    to the Riccati fixed point K∞ = P'∞/(P'∞+R), P'∞ = (Q+√(Q²+4QR))/2
    — emitted alongside (gain_steady_lat) so the terminal adaptive
    gain is auditable against the analytic limit it must approach.

    Determinism: observations enter on the 1e-6 lattice (FLOOR half-up
    of the `daily_events` mean); every recursion step is a FIXED
    sequential chain of IEEE basic ops (+,−,×,÷ — correctly rounded
    identically in Python binary64 and DuckDB DOUBLE; no transcendental,
    no reordering freedom), so x/P/K are bitwise identical across
    engines at every step; outputs snap to integer lattices
    (FLOOR(x·10^k+0.5) — the CLAUDE.md half-tie rule) only for hash
    hygiene. √ in the steady-state gain is IEEE-exact too.

    Sequential by nature (the gain feeds back through P): Spark folds
    the recursion inside the JVM (`fold_series`), the oracle is a
    RECURSIVE CTE advancing all series in rank lockstep —
    ts_holt_forecast's pattern (CLAUDE.md).

    Scale: facts reduce to (type, day) in one partial agg; state is
    three doubles per series; series parallelize across executors and
    each fold touches only its own ≤n_days elements."""
    q_, r_ = _KAL_Q, _KAL_R
    pp_inf = (q_ + (q_ * q_ + 4.0 * q_ * r_) ** 0.5) / 2.0
    gain_steady = math.floor(pp_inf / (pp_inf + r_) * 1e9 + 0.5)
    pp = f"(acc.p + {q_}D)"
    gain = f"({pp} / ({pp} + {r_}D))"
    st = fold_series(
        _lattice_series(spark, sf_dir).selectExpr(
            "et", "day_no", "CAST(lv AS DOUBLE) / 1e6 AS z"
        ),
        "et",
        "day_no, z",
        f"named_struct('x', arr[0].z, 'p', {r_}D, 'k', 0.0D)",
        f"named_struct('x', acc.x + {gain} * (x.z - acc.x), "
        f"'p', (1.0D - {gain}) * {pp}, 'k', {gain})",
    )
    return st.selectExpr(
        "et AS event_type",
        "n AS n_days",
        "CAST(FLOOR(st.x * 1e6 + 0.5D) AS BIGINT) AS level_lat",
        "CAST(FLOOR(st.p * 1e9 + 0.5D) AS BIGINT) AS pvar_lat",
        "CAST(FLOOR(st.k * 1e9 + 0.5D) AS BIGINT) AS gain_lat",
        f"CAST({gain_steady} AS BIGINT) AS gain_steady_lat",
    )


# ---------------------------------------------------------------------------
# Haar wavelet multi-resolution energy decomposition

_HAAR_LEVELS = 5  # dyadic scales: 2, 4, 8, 16, 32 observations


def _haar_sql() -> str:
    """DuckDB twin: per level ℓ, pair level-(ℓ−1) full-block sums by
    rank parity and square the difference; only FULL blocks (both
    halves complete) contribute, so series length never biases a
    level. All-integer until the final integer-ratio divisions."""
    lvl_ctes = [
        """b0 AS (
  SELECT et, (rk - 1) AS blk, lv AS s, 1 AS full_blk
  FROM lat)"""
    ]
    for lv in range(1, _HAAR_LEVELS + 1):
        lvl_ctes.append(
            f"""b{lv} AS (
  SELECT et, blk // 2 AS blk,
         CAST(SUM(s) AS BIGINT) AS s,
         CAST(SUM(CASE WHEN blk % 2 = 0 THEN s ELSE -s END) AS BIGINT)
           AS d,
         CAST(COUNT(*) = 2 AND MIN(full_blk) = 1 AS INT) AS full_blk
  FROM b{lv - 1} GROUP BY et, blk // 2)"""
        )
    unions = "\n  UNION ALL\n".join(
        f"""  SELECT et, {lv} AS level,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(d * d) AS BIGINT) AS energy_lat
  FROM b{lv} WHERE full_blk = 1 GROUP BY et"""
        for lv in range(1, _HAAR_LEVELS + 1)
    )
    return f"""
WITH {DAILY_EVENTS_SQL},
lat AS (
  SELECT et, CAST(FLOOR(v * 1e3 + 0.5) AS BIGINT) AS lv,
         ROW_NUMBER() OVER (PARTITION BY et ORDER BY day_no) AS rk
  FROM daily
),
{','.join(lvl_ctes)},
lvl AS (
{unions}
),
tot AS (
  SELECT et, CAST(SUM(energy_lat) AS BIGINT) AS te FROM lvl GROUP BY et
)
SELECT l.et AS event_type, l.level, l.n_blocks,
       CAST(l.energy_lat AS DOUBLE) / 1e6 AS energy,
       CASE WHEN t.te > 0
            THEN CAST(l.energy_lat AS DOUBLE) / CAST(t.te AS DOUBLE)
            ELSE 0.0 END AS energy_share
FROM lvl l JOIN tot t ON t.et = l.et
"""


@query("ts_wavelet_haar", oracle=_haar_sql())
def ts_wavelet_haar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet multi-resolution ENERGY decomposition of each daily
    series: at every dyadic scale 2^ℓ (ℓ = 1..5), the detail
    coefficient of a full block is (first-half sum − second-half sum)
    of the level-below block sums, and the per-level energy Σd² says
    WHERE the series' variance lives — fast scales = noise/spikes,
    slow scales = regime drift (Percival & Walden's wavelet variance;
    a Haar periodogram). The frequency-domain member the decomposition
    family lacked: ts_classical_decompose explains structure at ONE
    fixed period, this ranks ALL dyadic bands at once. Blocks pair by
    observation RANK and only FULL blocks (both halves complete)
    contribute, so series length never biases a level.

    Determinism: observations on a 1e-3 BIGINT lattice (millis of
    value — wavelet energies don't need µ-precision, and the coarser
    lattice keeps Σd² inside exact BIGINT with ~2 digits of headroom
    at tested SFs); every block sum, difference, and energy is an
    exact integer. The oracle builds each level from the one below
    (GROUP BY blk // 2); here the level-ℓ block of 0-based rank rk is
    rk >> ℓ directly, it covers ranks [b·2^ℓ, (b+1)·2^ℓ), it is FULL
    iff it holds 2^ℓ observations, and its detail is Σ±s with the
    sign taken from the half it sits in ((rk >> (ℓ−1)) % 2) — the
    same exact integer the recursion produces. Energy and share are
    integer-ratio doubles (BIGINT→DOUBLE is correctly rounded on both
    engines), deliberately UNROUNDED: rounding them would introduce tie
    divergence. Headroom: Σd² grows ~linearly in series length; past ~1e16
    (≈ SF 10 daily grain) migrate the energy sum to DECIMAL(38,0) +
    ROUND — until then ANSI mode fails loudly, never wraps (the
    ml_auc_roc discipline).

    Scale: one lazy plan, no eager jobs. One partial agg to (type,
    day), one rank window, then every observation is replicated once
    per level (L = 5 rows) and ONE map-side-combinable GROUP BY
    (type, level, rk >> level) yields all blocks of all levels; a
    second GROUP BY (type, level) sums their energies and a per-type
    window adds the share denominator. L·n rows per series, no
    iteration state, no skew (grain is the bounded calendar)."""
    daily = daily_events(spark, sf_dir)
    ranked = daily.select(
        "et",
        (F.row_number().over(Window.partitionBy("et").orderBy("day_no")) - 1)
        .alias("rk"),
        F.floor(F.col("v") * 1e3 + F.lit(0.5)).cast("bigint").alias("s"),
    )
    # The level explode gets its own select: in the rank's select Spark
    # would explode first, and row_number would rank the L copies.
    per_level = ranked.select(
        "et", "rk", "s",
        F.explode(F.sequence(F.lit(1), F.lit(_HAAR_LEVELS))).alias("level"),
    )
    blocks = (
        per_level.groupBy("et", "level", F.expr("shiftright(rk, level)"))
        .agg(
            F.expr(
                "SUM(CASE WHEN shiftright(rk, level - 1) % 2 = 0"
                " THEN s ELSE -s END)"
            ).alias("d"),
            F.count("*").alias("c"),
        )
        .filter(F.expr("c = shiftleft(1, level)"))
    )
    lvl = blocks.groupBy("et", "level").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("energy_lat"),
    ).select(
        "*", F.sum("energy_lat").over(Window.partitionBy("et")).alias("te")
    )
    return lvl.select(
        F.col("et").alias("event_type"),
        "level",
        "n_blocks",
        (F.col("energy_lat").cast("double") / F.lit(1e6)).alias("energy"),
        # te = 0 (a series constant at every scale) must yield share 0,
        # not an ANSI divide-by-zero — guarded identically both engines
        F.when(
            F.col("te") > 0,
            F.col("energy_lat").cast("double") / F.col("te").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("energy_share"),
    )


# ---------------------------------------------------------------------------
# Partial autocorrelation (Durbin–Levinson), the AR-order diagnostic

_PACF_K = 4  # lags 1..4 — AR order identification rarely needs more


def _pacf_sql() -> str:
    """DuckDB twin: identical lattice daily series, the same rank-lag
    co-moment aggregates, and the same UNROLLED Durbin–Levinson scalar
    tree — every r_k and φ input is an exact integer or an IEEE
    expression over exact integers, so the recursion is bitwise
    cross-engine and only the emitted pacf takes ROUND(6)."""
    pair_aggs = ",\n".join(
        f"""         CAST(SUM(s * l{k}) AS BIGINT) AS p{k},
         CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN s END) AS BIGINT) AS a{k},
         CAST(SUM(l{k}) AS BIGINT) AS b{k},
         CAST(COUNT(l{k}) AS BIGINT) AS m{k}"""
        for k in range(1, _PACF_K + 1)
    )
    leads = ",\n".join(
        f"         LEAD(s, {k}) OVER (PARTITION BY et ORDER BY day_no) AS l{k}"
        for k in range(1, _PACF_K + 1)
    )
    rs = ",\n".join(
        f"""       CASE WHEN c0 > 0 AND m{k} > 0 THEN
         (CAST(p{k} AS DOUBLE) - mu * (CAST(a{k} AS DOUBLE)
            + CAST(b{k} AS DOUBLE)) + CAST(m{k} AS DOUBLE) * mu * mu) / c0
       END AS r{k}"""
        for k in range(1, _PACF_K + 1)
    )
    return f"""
WITH {DAILY_EVENTS_SQL},
lat AS (
  SELECT et, day_no, CAST(FLOOR(v * 1e3 + 0.5) AS BIGINT) AS s FROM daily),
lagged AS (
  SELECT et, s,
{leads}
  FROM lat),
g AS (
  SELECT et, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(s) AS BIGINT) AS s1,
         CAST(SUM(s * s) AS BIGINT) AS s2,
{pair_aggs}
  FROM lagged GROUP BY et),
base AS (
  SELECT *, CAST(s1 AS DOUBLE) / n AS mu,
         CAST(s2 AS DOUBLE) - CAST(n AS DOUBLE)
           * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS c0
  FROM g),
acf AS (
  SELECT et,
{rs}
  FROM base),
dl AS (
  SELECT et, r1, r2, r3, r4,
         r1 AS f11,
         CASE WHEN 1 - r1 * r1 <> 0
              THEN (r2 - r1 * r1) / (1 - r1 * r1) END AS f22
  FROM acf),
dl2 AS (
  SELECT *, f11 - f22 * f11 AS f21 FROM dl),
dl3 AS (
  SELECT *,
         CASE WHEN 1 - (f21 * r1 + f22 * r2) <> 0
              THEN (r3 - (f21 * r2 + f22 * r1))
                   / (1 - (f21 * r1 + f22 * r2)) END AS f33
  FROM dl2),
dl4 AS (
  SELECT *, f21 - f33 * f22 AS f31, f22 - f33 * f21 AS f32 FROM dl3),
dl5 AS (
  SELECT *,
         CASE WHEN 1 - (f31 * r1 + f32 * r2 + f33 * r3) <> 0
              THEN (r4 - (f31 * r3 + f32 * r2 + f33 * r1))
                   / (1 - (f31 * r1 + f32 * r2 + f33 * r3)) END AS f44
  FROM dl4)
SELECT et AS event_type, CAST(k AS BIGINT) AS lag, ROUND(f, 6) AS pacf
FROM (
  SELECT et, 1 AS k, f11 AS f FROM dl5
  UNION ALL SELECT et, 2, f22 FROM dl5
  UNION ALL SELECT et, 3, f33 FROM dl5
  UNION ALL SELECT et, 4, f44 FROM dl5
) t
"""


@query("ts_pacf", oracle=_pacf_sql())
def ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation function (lags 1..4) of each daily event
    series via the Durbin–Levinson recursion — the AR-ORDER diagnostic
    that completes the correlogram pair: ts_autocorr/ts_ljung_box read
    the RAW autocorrelation (which an AR(1) smears across every lag),
    while PACF removes the shorter-lag explanation at each step, so an
    AR(p) series shows exactly p significant spikes (Box–Jenkins model
    identification — the plot you read before picking a forecaster
    like ts_holt_forecast).

    Determinism: the daily series is the wavelet op's FLOOR(mean·1e3)
    BIGINT lattice; the lag-k co-moments (Σs·s₊ₖ, pair sums/counts)
    are exact BIGINTs from ONE multi-lead window pass; each ACF value
    r_k and the whole unrolled Durbin–Levinson tree are fixed IEEE
    expressions over those exact integers — bitwise identical
    cross-engine — and the emitted pacf takes ROUND(6) (the final
    quotient is full-mantissa, tie risk measure-zero). Degenerate
    guards both engines: a constant series (c0 = 0) or a series
    shorter than the lag (no pairs) yields NULL r_k, and each
    recursion denominator 1 − Σφr = 0 (a unit-root boundary) yields
    NULL for that and deeper lags — never an ANSI divide error
    (degencheck's constant/lone series pin this).

    Scale: one partial-aggregable scan to the (type, day) grain, one
    lead window per event_type partition over the calendar-bounded
    daily frame (grain-bounded, same exemption as ts_ljung_box), one
    per-type aggregate, then pure scalar algebra on a |types|-row
    frame. Fact rows are touched exactly once."""
    daily = daily_events(spark, sf_dir).selectExpr(
        "et", "day_no", "CAST(FLOOR(v * 1e3 + 0.5D) AS BIGINT) AS s"
    )
    w = Window.partitionBy("et").orderBy("day_no")
    lagged = daily.select(
        "et",
        "s",
        *[F.lead("s", k).over(w).alias(f"l{k}") for k in range(1, _PACF_K + 1)],
    )
    pair_aggs = []
    for k in range(1, _PACF_K + 1):
        lk = F.col(f"l{k}")
        pair_aggs += [
            F.sum(F.col("s") * lk).cast("bigint").alias(f"p{k}"),
            F.sum(F.when(lk.isNotNull(), F.col("s")))
            .cast("bigint")
            .alias(f"a{k}"),
            F.sum(lk).cast("bigint").alias(f"b{k}"),
            F.count(lk).cast("bigint").alias(f"m{k}"),
        ]
    g = lagged.groupBy("et").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("s1"),
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("s2"),
        *pair_aggs,
    )
    mu = F.col("s1").cast("double") / F.col("n")
    c0 = F.col("s2").cast("double") - F.col("n").cast("double") * mu * mu
    rcols = {}
    for k in range(1, _PACF_K + 1):
        rcols[k] = F.when(
            (c0 > 0) & (F.col(f"m{k}") > 0),
            (
                F.col(f"p{k}").cast("double")
                - mu
                * (F.col(f"a{k}").cast("double") + F.col(f"b{k}").cast("double"))
                + F.col(f"m{k}").cast("double") * mu * mu
            )
            / c0,
        )
    acf = g.select("et", *[rcols[k].alias(f"r{k}") for k in range(1, _PACF_K + 1)])
    r1, r2 = F.col("r1"), F.col("r2")
    dl = acf.select(
        "et",
        "r1",
        "r2",
        "r3",
        "r4",
        r1.alias("f11"),
        F.when(1 - r1 * r1 != 0, (r2 - r1 * r1) / (1 - r1 * r1)).alias("f22"),
    )
    dl2 = dl.withColumn("f21", F.col("f11") - F.col("f22") * F.col("f11"))
    f21, f22, r3 = F.col("f21"), F.col("f22"), F.col("r3")
    den3 = 1 - (f21 * F.col("r1") + f22 * F.col("r2"))
    dl3 = dl2.withColumn(
        "f33",
        F.when(den3 != 0, (r3 - (f21 * F.col("r2") + f22 * F.col("r1"))) / den3),
    )
    dl4 = dl3.withColumn(
        "f31", F.col("f21") - F.col("f33") * F.col("f22")
    ).withColumn("f32", F.col("f22") - F.col("f33") * F.col("f21"))
    f31, f32, f33, r4 = F.col("f31"), F.col("f32"), F.col("f33"), F.col("r4")
    den4 = 1 - (f31 * F.col("r1") + f32 * F.col("r2") + f33 * F.col("r3"))
    dl5 = dl4.withColumn(
        "f44",
        F.when(
            den4 != 0,
            (r4 - (f31 * F.col("r3") + f32 * F.col("r2") + f33 * F.col("r1")))
            / den4,
        ),
    )
    # the 4-lag union references this |types|-row frame 4x — pin the
    # events scan + window to ONE execution (the r10 ADVICE rule)
    dl5 = pin(dl5)
    parts = [
        dl5.select(
            F.col("et").alias("event_type"),
            F.lit(k).cast("bigint").alias("lag"),
            F.round(F.col(f"f{k}{k}"), 6).alias("pacf"),
        )
        for k in range(1, _PACF_K + 1)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# Dynamic time warping distance between daily event-type series

_DTW_BIG = 1 << 60  # unreachable-cell sentinel (path sums stay < 2^40)

_DTW_SQL = f"""
WITH RECURSIVE {DAILY_EVENTS_SQL},
lat AS (
  SELECT et, day_no, CAST(FLOOR(v * 1e6 + 0.5) AS BIGINT) AS lv FROM daily
),
ser AS MATERIALIZED (
  SELECT et, list(lv ORDER BY day_no) AS arr,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lat GROUP BY 1
),
pairs AS MATERIALIZED (
  SELECT a.et AS ta, b.et AS tb, a.arr AS aa, b.arr AS bb,
         a.n AS n, b.n AS m
  FROM ser a JOIN ser b ON a.et < b.et
),
rec AS (
  SELECT ta, tb, aa, bb, n, m, CAST(2 AS BIGINT) AS d,
         list_transform(generate_series(1, CAST(n AS INTEGER)),
           i -> CASE WHEN i = 1 THEN ABS(aa[1] - bb[1])
                     ELSE {_DTW_BIG} END) AS cur,
         list_transform(generate_series(1, CAST(n AS INTEGER)),
           i -> {_DTW_BIG}) AS prev
  FROM pairs
  UNION ALL
  SELECT ta, tb, aa, bb, n, m, d + 1,
         list_transform(generate_series(1, CAST(n AS INTEGER)),
           i -> CASE WHEN d + 1 - i BETWEEN 1 AND m THEN
                  ABS(aa[i] - bb[d + 1 - i])
                  + LEAST(CASE WHEN i > 1 THEN cur[i - 1]
                               ELSE {_DTW_BIG} END,
                          cur[i],
                          CASE WHEN i > 1 THEN prev[i - 1]
                               ELSE {_DTW_BIG} END)
                ELSE {_DTW_BIG} END) AS cur,
         cur AS prev
  FROM rec WHERE d < n + m
)
SELECT ta AS type_a, tb AS type_b, n AS n_a, m AS n_b,
       CAST(cur[CAST(n AS INTEGER)] AS DOUBLE) / 1e6 AS dtw,
       CAST(cur[CAST(n AS INTEGER)] AS DOUBLE) / (n + m) / 1e6
         AS dtw_per_step
FROM rec WHERE d = n + m
"""


@query("ts_dtw_distance", oracle=_DTW_SQL)
def ts_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance between every pair of daily
    event-type series — the ELASTIC similarity member of the
    series-comparison family: ts_cross_correlation needs aligned
    clocks, ts_cointegration tests a linear long-run tie, while DTW
    matches series that run the same SHAPE at locally varying speed
    (the standard series-matching/clustering distance a curation
    pipeline uses to group near-duplicate metric streams). Classic
    O(n·m) Sakoe-Chiba DP (band unnecessary here: the day grain
    saturates at ~30 points per series, so the full grid is a
    constant ~900 cells per pair).

    Determinism: series values are exact 1e-6-lattice BIGINTs (the
    ts_holt_forecast daily-mean recipe), costs |a_i - b_j| and every
    DP cell are therefore exact BIGINTs — the distance matches
    bitwise with NO rounding anywhere. Spark runs the genuinely
    sequential DP vectorized over anti-diagonals in pandas (a Python
    worker, because the DP rows grow with the series); the oracle
    is a DuckDB RECURSIVE CTE advancing one anti-diagonal per round
    with the two previous diagonals carried as BIGINT lists — cell
    (i, j) on diagonal d reads (i-1, j), (i, j-1) from diagonal d-1
    and (i-1, j-1) from d-2, so one list_transform computes a whole
    diagonal with no intra-round dependency.

    Scale: facts reduce to (type, day) in one partial agg; the pair
    frame is |types|^2/2 rows of <=|days|-length arrays (both
    saturating grains — NESTED_LOOP_OK); each DP is O(days^2) integer
    work, parallel across pairs. Fact cost is the scan, always."""
    import numpy as np
    import pandas as pd

    daily = _lattice_series(spark, sf_dir)
    ser = daily.groupBy("et").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day_no, lv))),"
            " s -> s.lv)"
        ).alias("arr"),
        F.count("*").cast("bigint").alias("n"),
    )
    a = ser.select(
        F.col("et").alias("type_a"),
        F.col("arr").alias("aa"),
        F.col("n").alias("n_a"),
    )
    b = ser.select(
        F.col("et").alias("type_b"),
        F.col("arr").alias("bb"),
        F.col("n").alias("n_b"),
    )

    def _dtw_batch(aa, bb):
        out = []
        for av, bv in zip(aa, bb):
            x = np.asarray(av, dtype=np.int64)
            y = np.asarray(bv, dtype=np.int64)
            n, m = len(x), len(y)
            big = np.int64(_DTW_BIG)
            dp = np.full((n + 1, m + 1), big, dtype=np.int64)
            dp[0, 0] = 0
            cost = np.abs(x[:, None] - y[None, :])
            for d in range(2, n + m + 1):
                i = np.arange(max(1, d - m), min(n, d - 1) + 1)
                j = d - i
                pred = np.minimum(
                    np.minimum(dp[i - 1, j], dp[i, j - 1]), dp[i - 1, j - 1]
                )
                dp[i, j] = cost[i - 1, j - 1] + pred
            out.append(int(dp[n, m]))
        return pd.Series(out, dtype="int64")

    dtw_lat = F.pandas_udf(_dtw_batch, "long")

    return (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .withColumn("lat", dtw_lat("aa", "bb"))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            (F.col("lat").cast("double") / 1e6).alias("dtw"),
            (
                F.col("lat").cast("double")
                / (F.col("n_a") + F.col("n_b"))
                / 1e6
            ).alias("dtw_per_step"),
        )
    )


# GARCH(1,1) conditional volatility per daily event-type series

_GARCH_W = 10_000_000_000  # omega on the 1e12 sigma^2-lattice (0.01)

_GARCH_SQL = f"""
WITH RECURSIVE {DAILY_EVENTS_SQL},
lat AS (
  SELECT et, day_no, CAST(FLOOR(v * 1e6 + 0.5) AS BIGINT) AS lv FROM daily
),
dif AS (
  SELECT et, day_no,
         lv - LAG(lv) OVER (PARTITION BY et ORDER BY day_no) AS r
  FROM lat
),
ret AS MATERIALIZED (
  SELECT et, r,
         ROW_NUMBER() OVER (PARTITION BY et ORDER BY day_no) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY et) AS BIGINT) AS n
  FROM dif WHERE r IS NOT NULL
),
rec AS (
  SELECT et, rk, n, r, r * r AS h FROM ret WHERE rk = 1
  UNION ALL
  SELECT d.et, d.rk, d.n, d.r,
         {_GARCH_W} + (p.r * p.r) // 4 + p.h // 2 AS h
  FROM rec p JOIN ret d ON d.et = p.et AND d.rk = p.rk + 1
)
SELECT et AS event_type, n AS n_ret, h AS h_last,
       {_GARCH_W} + (r * r) // 4 + h // 2 AS h_next,
       CAST(h AS DOUBLE) / 1e12 AS sigma2,
       CAST({_GARCH_W} + (r * r) // 4 + h // 2 AS DOUBLE) / 1e12
         AS sigma2_next
FROM rec WHERE rk = n
"""


@query("ts_garch_volatility", oracle=_GARCH_SQL)
def ts_garch_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) conditional-variance filter per daily event-type
    series, plus the one-step-ahead variance forecast — the
    VOLATILITY-dynamics member of the series family: ts_ewma smooths
    the LEVEL, ts_holt_forecast adds trend, while GARCH models the
    second moment (volatility clustering: calm days beget calm days,
    bursts beget bursts), the standard conditional-heteroskedasticity
    filter risk pipelines run beside ts_var_cvar's unconditional tail.

        h_1 = r_1^2
        h_t = omega + (1/4)*r_{{t-1}}^2 + (1/2)*h_{{t-1}}
        h_next = omega + (1/4)*r_n^2 + (1/2)*h_n

    with omega = 0.01 sigma^2-units and alpha = 1/4, beta = 1/2 —
    exact binary fractions, so the whole recursion runs on an exact
    BIGINT lattice: returns are first differences of 1e-6-lattice
    daily means (BIGINT, the ts_holt_forecast recipe), r^2 and h live
    on the squared (1e-12) lattice, and every alpha/beta product is a
    NONNEGATIVE integer floor division (truncating `div` and flooring
    `//` agree at >= 0 — the CLAUDE.md caveat never triggers). Both
    engines produce identical integers; the sigma^2 doubles are the
    same CAST + division of the same BIGINTs, hence bitwise.
    Steady state: h* = 2*omega + r̄^2/2 (from h(1-beta) = omega +
    alpha*E[r^2]) — the planted test plants a variance burst and a
    calm twin around exactly that fixed point.

    Spark folds the genuinely sequential recursion inside the JVM
    (`fold_series`, as ts_holt_forecast, seeded from the first two
    days; a one-day series has no return and emits no row); the oracle
    is a DuckDB RECURSIVE CTE advancing all series in rank lockstep off
    a MATERIALIZED returns frame.

    Overflow budget: daily means stay < ~1e3, so lv < 1e9, |r| < 1e9
    in principle and < ~1e8 on every shipped SF; r^2 < 1e16 and
    h <= 2*omega + max(r^2)/2 < 6e15 — inside int64 with headroom.

    Scale: facts reduce to (type, day) in one partial agg; the fold
    rides the saturating per-series calendar grain (grain-bounded
    exemption); state is three BIGINTs per series (last level, last
    return, h), with no Python worker."""
    r0 = "(arr[1].lv - arr[0].lv)"
    h_next = f"({_GARCH_W} + (st.r * st.r) div 4 + st.h div 2)"
    st = fold_series(
        _lattice_series(spark, sf_dir),
        "et",
        "day_no, lv",
        f"named_struct('pl', arr[1].lv, 'r', {r0}, 'h', {r0} * {r0})",
        "named_struct('pl', x.lv, 'r', x.lv - acc.pl, "
        f"'h', {_GARCH_W} + (acc.r * acc.r) div 4 + acc.h div 2)",
        head=2,
    )
    return st.selectExpr(
        "et AS event_type",
        "n - 1 AS n_ret",
        "st.h AS h_last",
        f"{h_next} AS h_next",
        "CAST(st.h AS DOUBLE) / 1e12 AS sigma2",
        f"CAST({h_next} AS DOUBLE) / 1e12 AS sigma2_next",
    )


# SAX symbolic approximation of daily event-type series

_SAX_W = 5  # days per PAA segment


_SAX_SQL = f"""
WITH {DAILY_EVENTS_SQL},
lat AS (
  SELECT et, day_no, CAST(FLOOR(v * 1e6 + 0.5) AS BIGINT) AS lv FROM daily
),
rk AS (
  SELECT et, lv,
         ROW_NUMBER() OVER (PARTITION BY et ORDER BY day_no) - 1 AS r
  FROM lat
),
mom AS (
  SELECT et, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(lv) AS s1, SUM(lv * lv) AS s2
  FROM rk GROUP BY 1
),
seg AS (
  SELECT et, r // {_SAX_W} AS sg,
         CAST(SUM(lv) AS DOUBLE) / COUNT(*) AS paa
  FROM rk GROUP BY 1, 2
),
z AS (
  SELECT s.et, s.sg,
         CASE WHEN (CAST(m.s2 AS DOUBLE) / m.n
                    - (CAST(m.s1 AS DOUBLE) / m.n)
                      * (CAST(m.s1 AS DOUBLE) / m.n)) > 0
              THEN (s.paa - CAST(m.s1 AS DOUBLE) / m.n)
                   / SQRT(CAST(m.s2 AS DOUBLE) / m.n
                          - (CAST(m.s1 AS DOUBLE) / m.n)
                            * (CAST(m.s1 AS DOUBLE) / m.n))
              ELSE 0.0 END AS z
  FROM seg s JOIN mom m ON m.et = s.et
),
sym AS (
  SELECT et, sg,
         CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'
              WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS c
  FROM z
)
SELECT s.et AS event_type, MAX(m.n) AS n_days,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       string_agg(c, '' ORDER BY sg) AS sax_word,
       CAST(SUM(CASE WHEN c = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       CAST(SUM(CASE WHEN c = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       CAST(SUM(CASE WHEN c = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
       CAST(SUM(CASE WHEN c = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS n_d
FROM sym s JOIN mom m ON m.et = s.et
GROUP BY s.et
"""


@query("ts_sax_symbolic", oracle=_SAX_SQL)
def ts_sax_symbolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) word per daily
    event-type series — the SYMBOLIC member of the series family:
    ts_dtw_distance compares raw shapes elastically, ts_wavelet_haar
    localizes energy by scale, while SAX compresses each series to a
    {_SAX_W}-day-PAA, 4-letter-alphabet string (Lin/Keogh's standard
    representation) that downstream motif mining, indexing, and
    hashing treat as text — the bridge from the ts_* family into the
    text/dedup machinery (a SAX word can feed dedup_exact or
    text_ngrams unchanged).

    Pipeline (classical SAX, engine-deterministic at every step):
    daily means on the exact 1e-6 BIGINT lattice (ts_holt_forecast
    recipe) → per-series moments from EXACT integer sums Σlv, Σlv²
    (lv² ≤ 1e16·|days| stays inside int64) → PAA = exact-ratio segment
    mean (bitwise double) → z = (paa − μ)/σ with both μ and σ the same
    IEEE expressions both engines → symbols by the N(0,1) quartile
    breakpoints ±0.6745/0 (a|b|c|d). A zero-variance (constant)
    series takes the z = 0 → all-'c' contract via the same CASE guard
    both engines — no division ever fires on σ = 0 (the degencheck
    class). Ordered concatenation: DuckDB string_agg(... ORDER BY sg)
    ↔ Spark concat_ws over transform(array_sort(collect_list(
    struct))) — the CLAUDE.md ordered-agg idiom; segment index
    r div {_SAX_W} is nonnegative, so truncation and floor agree.

    Scale: facts reduce to (type, day) in one partial agg; the rank
    window rides the saturating per-series calendar grain
    (grain-bounded exemption); segments and words are K-row frames.
    The SAX word is a plain string column — atomic output."""
    daily = _lattice_series(spark, sf_dir)
    w = Window.partitionBy("et").orderBy("day_no")
    rk = daily.select(
        "et", "lv", (F.row_number().over(w) - 1).alias("r")
    )
    mom = rk.groupBy("et").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("lv").alias("s1"),
        F.sum(F.col("lv") * F.col("lv")).alias("s2"),
    )
    seg = rk.groupBy(
        "et", F.expr(f"r div {_SAX_W}").alias("sg")
    ).agg(
        (F.sum("lv").cast("double") / F.count("*")).alias("paa")
    )
    z = seg.join(mom, "et").select(
        "et",
        "sg",
        "n",
        F.expr(
            "CASE WHEN (CAST(s2 AS DOUBLE) / n"
            " - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) > 0"
            " THEN (paa - CAST(s1 AS DOUBLE) / n)"
            " / SQRT(CAST(s2 AS DOUBLE) / n"
            " - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))"
            " ELSE 0.0 END"
        ).alias("z"),
    )
    sym = z.select(
        "et",
        "sg",
        "n",
        F.expr(
            "CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'"
            " WHEN z < 0.6745 THEN 'c' ELSE 'd' END"
        ).alias("c"),
    )
    return sym.groupBy(F.col("et").alias("event_type")).agg(
        F.max("n").alias("n_days"),
        F.count("*").cast("bigint").alias("n_segments"),
        F.expr(
            "concat_ws('', transform(array_sort(collect_list("
            "struct(sg, c))), s -> s.c))"
        ).alias("sax_word"),
        F.sum(F.expr("CASE WHEN c = 'a' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.expr("CASE WHEN c = 'b' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.expr("CASE WHEN c = 'c' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_c"),
        F.sum(F.expr("CASE WHEN c = 'd' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_d"),
    )


# Two-state Viterbi regime decoding of daily up/down observations

_VIT_STAY = 2  # max-plus transition bonus for staying in a regime
_VIT_MATCH = 3  # emission bonus when the day's sign matches the regime

_VIT_SQL = f"""
WITH RECURSIVE {DAILY_EVENTS_SQL},
lat AS (
  SELECT et, day_no, CAST(FLOOR(v * 1e6 + 0.5) AS BIGINT) AS lv FROM daily
),
dif AS (
  SELECT et, day_no,
         lv - LAG(lv) OVER (PARTITION BY et ORDER BY day_no) AS r
  FROM lat
),
obs AS MATERIALIZED (
  SELECT et, day_no, CASE WHEN r > 0 THEN 1 ELSE 0 END AS o,
         ROW_NUMBER() OVER (PARTITION BY et ORDER BY day_no) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY et) AS BIGINT) AS n
  FROM dif WHERE r IS NOT NULL
),
fwd AS (
  SELECT et, rk, n, day_no, o,
         CAST(CASE WHEN o = 0 THEN {_VIT_MATCH} ELSE 0 END AS BIGINT) AS vl,
         CAST(CASE WHEN o = 1 THEN {_VIT_MATCH} ELSE 0 END AS BIGINT) AS vh,
         'L' AS bpl, 'H' AS bph
  FROM obs WHERE rk = 1
  UNION ALL
  SELECT d.et, d.rk, d.n, d.day_no, d.o,
         CASE WHEN d.o = 0 THEN {_VIT_MATCH} ELSE 0 END
           + GREATEST(f.vl + {_VIT_STAY}, f.vh) AS vl,
         CASE WHEN d.o = 1 THEN {_VIT_MATCH} ELSE 0 END
           + GREATEST(f.vh + {_VIT_STAY}, f.vl) AS vh,
         CASE WHEN f.vl + {_VIT_STAY} >= f.vh THEN 'L' ELSE 'H' END AS bpl,
         CASE WHEN f.vh + {_VIT_STAY} >= f.vl THEN 'H' ELSE 'L' END AS bph
  FROM fwd f JOIN obs d ON d.et = f.et AND d.rk = f.rk + 1
),
fwdm AS MATERIALIZED (SELECT * FROM fwd),
back AS (
  SELECT et, rk, CASE WHEN vh > vl THEN 'H' ELSE 'L' END AS st
  FROM fwdm WHERE rk = n
  UNION ALL
  SELECT f.et, f.rk - 1,
         CASE WHEN b.st = 'L' THEN f.bpl ELSE f.bph END AS st
  FROM back b JOIN fwdm f ON f.et = b.et AND f.rk = b.rk
  WHERE f.rk > 1
)
SELECT f.et AS event_type, f.day_no, f.o AS up_day, b.st AS regime
FROM fwdm f JOIN back b ON b.et = f.et AND b.rk = f.rk
"""


@query("ts_regime_viterbi", oracle=_VIT_SQL)
def ts_regime_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-state Viterbi regime decoding over each daily series'
    up/down sign sequence — the HMM-DECODING member of the series
    family: ts_cusum_changepoint finds ONE mean shift, ts_sax_symbolic
    quantizes levels, while Viterbi segments the whole series into
    persistent bull/bear regimes by globally maximizing a max-plus
    path score (emission +{_VIT_MATCH} when the day's sign matches the
    regime, transition +{_VIT_STAY} for staying) — exactly the
    integer-weight formulation of 2-state HMM MAP decoding (weights =
    scaled log-odds), so switches only happen when a sign run is long
    enough to pay the switching cost — the smoothing a raw sign
    sequence can't do.

    Determinism: observations are signs of exact-lattice BIGINT
    returns (ts_holt_forecast recipe); ALL path scores are small
    integers in max-plus algebra — no floats anywhere — and every tie
    is broken by a fixed rule both engines share (stay beats switch
    at equal score via >=; final state prefers 'L' via strict >).
    Spark runs forward+backtrace per series in applyInPandas (the
    backtrace keeps one backpointer pair per step, so the state grows
    with the series and no O(1) fold applies); the oracle is TWO chained DuckDB
    recursive CTEs — a forward pass materializing per-step scores and
    backpointers, then a backward pass walking them — with the
    forward frame MATERIALIZED (referenced by both the backward
    recursion and the final join: the graph_kcore lazy-CTE rule).

    Scale: facts reduce to (type, day) in one partial agg; the
    recursion rides the saturating per-series calendar grain; output
    is day-grain long form, all atomic columns."""
    import pandas as pd

    daily = _lattice_series(spark, sf_dir)

    def viterbi(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day_no")
        lvs = [int(x) for x in pdf["lv"]]
        days = [int(x) for x in pdf["day_no"]]
        obs = [
            (1 if b - a > 0 else 0, d)
            for a, b, d in zip(lvs, lvs[1:], days[1:])
        ]
        if not obs:
            return pd.DataFrame(
                {
                    "event_type": pd.Series([], dtype="object"),
                    "day_no": pd.Series([], dtype="int64"),
                    "up_day": pd.Series([], dtype="int64"),
                    "regime": pd.Series([], dtype="object"),
                }
            )
        o0 = obs[0][0]
        vl = _VIT_MATCH if o0 == 0 else 0
        vh = _VIT_MATCH if o0 == 1 else 0
        bps = [("L", "H")]
        for o, _ in obs[1:]:
            bpl = "L" if vl + _VIT_STAY >= vh else "H"
            bph = "H" if vh + _VIT_STAY >= vl else "L"
            nvl = (_VIT_MATCH if o == 0 else 0) + max(vl + _VIT_STAY, vh)
            nvh = (_VIT_MATCH if o == 1 else 0) + max(vh + _VIT_STAY, vl)
            vl, vh = nvl, nvh
            bps.append((bpl, bph))
        st = "H" if vh > vl else "L"
        states = [st]
        for t in range(len(obs) - 1, 0, -1):
            bpl, bph = bps[t]
            st = bpl if st == "L" else bph
            states.append(st)
        states.reverse()
        return pd.DataFrame(
            {
                "event_type": [pdf["et"].iloc[0]] * len(obs),
                "day_no": [d for _, d in obs],
                "up_day": [o for o, _ in obs],
                "regime": states,
            }
        )

    return daily.groupBy("et").applyInPandas(
        viterbi,
        schema="event_type string, day_no long, up_day long, regime string",
    )


# Permutation entropy (ordinal-pattern complexity) per daily series

_PE_NORM = "LN(6.0)"  # 3! ordinal patterns → max-entropy normalizer

_PE_SQL = f"""
WITH {DAILY_EVENTS_SQL},
lat AS (
  SELECT et, day_no, CAST(FLOOR(v * 1e6 + 0.5) AS BIGINT) AS lv FROM daily
),
tri AS (
  SELECT et, lv AS a,
         LEAD(lv, 1) OVER (PARTITION BY et ORDER BY day_no) AS b,
         LEAD(lv, 2) OVER (PARTITION BY et ORDER BY day_no) AS c
  FROM lat
),
pat AS (
  SELECT et,
         ((CASE WHEN b < a THEN 1 ELSE 0 END)
          + (CASE WHEN c < a THEN 1 ELSE 0 END)) * 9
         + ((CASE WHEN a < b THEN 1 ELSE 0 END)
            + (CASE WHEN c < b THEN 1 ELSE 0 END)
            + (CASE WHEN a = b THEN 1 ELSE 0 END)) * 3
         + (CASE WHEN a < c THEN 1 ELSE 0 END)
         + (CASE WHEN b < c THEN 1 ELSE 0 END)
         + (CASE WHEN a = c THEN 1 ELSE 0 END)
         + (CASE WHEN b = c THEN 1 ELSE 0 END) AS pid
  FROM tri WHERE b IS NOT NULL AND c IS NOT NULL
),
cnt AS (
  SELECT et, pid, CAST(COUNT(*) AS BIGINT) AS k
  FROM pat GROUP BY 1, 2
),
tot AS (
  SELECT et, CAST(SUM(k) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_seen
  FROM cnt GROUP BY 1
),
rk AS (
  SELECT c.et, c.pid, c.k, t.n, t.n_seen,
         ROW_NUMBER() OVER (PARTITION BY c.et
                            ORDER BY c.k DESC, c.pid) AS r
  FROM cnt c JOIN tot t ON t.et = c.et
)
SELECT et AS event_type, MAX(n) AS n_triples, MAX(n_seen) AS n_patterns,
       ROUND(-SUM((CAST(k AS DOUBLE) / n)
                  * LN(CAST(k AS DOUBLE) / n)) / {_PE_NORM} + 0.0, 6)
         AS perm_entropy,
       MAX(CASE WHEN r = 1 THEN pid END) AS top_pattern,
       MAX(CASE WHEN r = 1 THEN CAST(k AS DOUBLE) / n END) AS top_share
FROM rk
GROUP BY et
"""


@query("ts_permutation_entropy", oracle=_PE_SQL)
def ts_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (Bandt–Pompe ordinal-pattern complexity,
    order 3) per daily event-type series — the COMPLEXITY member of
    the series family: ts_hurst_exponent measures long-range
    persistence and ts_sax_symbolic quantizes LEVELS, while
    permutation entropy ignores amplitude entirely and scores how
    uniformly the 3! ordinal SHAPES of consecutive-day triples are
    used — 1.0 for white noise (all six patterns equally likely), → 0
    for monotone or strictly periodic dynamics. The standard
    model-free complexity screen for series triage.

    Determinism: triples are exact-lattice BIGINTs (ts_holt_forecast
    recipe), the ordinal pattern is pure integer comparisons with the
    Bandt–Pompe STABLE tie rule (equal values rank by time index —
    the CASE terms add (j<i AND a_j=a_i) exactly), pattern
    probabilities are exact integer ratios, and the entropy's ln is
    the only transcendental — ROUND(6) both engines (tie set measure
    zero). A single-pattern series yields −(1·ln 1) = −0.0, and the
    engines disagree on the SIGN of zero after ROUND — the +0.0 term
    canonicalizes it (degencheck's constant-series fixture found it). The dominant pattern breaks count ties to the smallest
    pattern id via ROW_NUMBER (k DESC, pid); its window rides the
    ≤27-row per-series pattern grain (grain-bounded exemption), and
    top_share is an exact ratio of positive integers — no denominator
    guard can fire (pattern rows exist only where n ≥ 1).

    Scale: facts reduce to (type, day) in one partial agg; LEAD rides
    the saturating calendar grain; everything after is a ≤27-row
    frame per series."""
    daily = _lattice_series(spark, sf_dir)
    w = Window.partitionBy("et").orderBy("day_no")
    tri = daily.select(
        "et",
        F.col("lv").alias("a"),
        F.lead("lv", 1).over(w).alias("b"),
        F.lead("lv", 2).over(w).alias("c"),
    ).filter(F.col("b").isNotNull() & F.col("c").isNotNull())
    pat = tri.select(
        "et",
        F.expr(
            "((CASE WHEN b < a THEN 1 ELSE 0 END)"
            " + (CASE WHEN c < a THEN 1 ELSE 0 END)) * 9"
            " + ((CASE WHEN a < b THEN 1 ELSE 0 END)"
            " + (CASE WHEN c < b THEN 1 ELSE 0 END)"
            " + (CASE WHEN a = b THEN 1 ELSE 0 END)) * 3"
            " + (CASE WHEN a < c THEN 1 ELSE 0 END)"
            " + (CASE WHEN b < c THEN 1 ELSE 0 END)"
            " + (CASE WHEN a = c THEN 1 ELSE 0 END)"
            " + (CASE WHEN b = c THEN 1 ELSE 0 END)"
        ).alias("pid"),
    )
    cnt = pat.groupBy("et", "pid").agg(
        F.count("*").cast("bigint").alias("k")
    )
    tot = cnt.groupBy("et").agg(
        F.sum("k").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_seen"),
    )
    wr = Window.partitionBy("et").orderBy(F.desc("k"), F.asc("pid"))
    rk = cnt.join(tot, "et").withColumn("r", F.row_number().over(wr))
    return rk.groupBy(F.col("et").alias("event_type")).agg(
        F.max("n").alias("n_triples"),
        F.max("n_seen").alias("n_patterns"),
        F.round(
            -F.sum(
                (F.col("k").cast("double") / F.col("n"))
                * F.log(F.col("k").cast("double") / F.col("n"))
            )
            / F.expr(_PE_NORM)
            + F.lit(0.0),  # -0.0 -> +0.0: single-pattern series
            6,
        ).alias("perm_entropy"),
        F.max(F.expr("CASE WHEN r = 1 THEN pid END")).alias("top_pattern"),
        F.max(
            F.expr("CASE WHEN r = 1 THEN CAST(k AS DOUBLE) / n END")
        ).alias("top_share"),
    )


# Croston's intermittent-demand forecast per part (weekly ship grain)

_CRO_LAT = 1000  # demand/interval lattice (alpha = 1/2 halvings floor)

_CRO_SQL = f"""
WITH RECURSIVE wk AS (
  SELECT l_partkey AS p, epoch_us(l_shipdate) // 604800000000 AS w,
         CAST(SUM(CAST(l_quantity AS DECIMAL(20,0))) AS BIGINT) AS z
  FROM lineitem GROUP BY 1, 2
),
seq AS MATERIALIZED (
  SELECT p, z,
         COALESCE(w - LAG(w) OVER (PARTITION BY p ORDER BY w), 1) AS q,
         ROW_NUMBER() OVER (PARTITION BY p ORDER BY w) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY p) AS BIGINT) AS n
  FROM wk
),
rec AS (
  SELECT p, rk, n, z * {_CRO_LAT} AS s, q * {_CRO_LAT} AS v
  FROM seq WHERE rk = 1
  UNION ALL
  SELECT d.p, d.rk, d.n,
         (r.s + d.z * {_CRO_LAT}) // 2 AS s,
         (r.v + d.q * {_CRO_LAT}) // 2 AS v
  FROM rec r JOIN seq d ON d.p = r.p AND d.rk = r.rk + 1
)
SELECT p AS partkey, n AS n_demand_periods, s AS size_lat, v AS interval_lat,
       CAST(s AS DOUBLE) / {_CRO_LAT} AS smoothed_size,
       CAST(v AS DOUBLE) / {_CRO_LAT} AS smoothed_interval,
       CAST(s AS DOUBLE) / v AS croston_fc
FROM rec WHERE rk = n
"""


@query("ts_croston_forecast", oracle=_CRO_SQL)
def ts_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method per part over weekly shipped demand — the
    INTERMITTENT-demand forecaster the dense-series smoothers
    (ts_ewma level, ts_holt_forecast trend, ts_holt_winters season)
    systematically get wrong: when most periods have ZERO demand,
    smoothing the raw series drives the level toward zero and spikes
    on every order, while Croston separately smooths the nonzero
    demand SIZES z_i and the inter-arrival INTERVALS q_i and forecasts
    the ratio s/v (demand per period) — the standard spare-parts /
    slow-moving-SKU estimator, which is exactly the shape of
    commodity-arrival data the reference's agmarknet feed produces.

    α = 1/2 runs both recursions on an exact BIGINT lattice
    (s' = (s + z·L) floor-div 2, nonnegative, so truncating div and
    flooring // agree — the ts_holt_forecast discipline); the first
    demand period initializes s = z·L, v = q·L with the conventional
    q₁ = 1. v ≥ L/2 > 0 by induction, so the forecast ratio can never
    divide by zero (degencheck class — no guard needed, the invariant
    is the guard, documented here and replayed in the planted test).
    croston_fc is a ratio of exact BIGINTs — bitwise, unrounded.

    Spark runs the per-part recursion as a JVM-side fold
    (`fold_series`, struct accumulator carrying s, v, prev-week) — an
    applyInPandas first cut paid ~9 s at sf0.1 purely in 20k-group
    Python/Arrow churn (measured r12); the fold is the same exact
    integer recursion with zero Python workers. The oracle advances all
    parts in rank lockstep in a recursive CTE off a MATERIALIZED demand
    frame.

    Scale: one fact pass to the (part, week) grain; the recursion
    state is two BIGINTs per part; output is part-grain."""
    li = load(spark, sf_dir, "lineitem")
    wk = li.groupBy(
        F.col("l_partkey").alias("p"),
        F.expr(
            "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 604800000000"
        ).alias("w"),
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(20,0)"))
        .cast("bigint")
        .alias("z")
    )
    L = _CRO_LAT
    st = fold_series(
        wk,
        "p",
        "w, z",
        f"named_struct('s', arr[0].z * CAST({L} AS BIGINT), "
        f"'v', CAST({L} AS BIGINT), 'pw', arr[0].w)",
        f"named_struct('s', (acc.s + x.z * {L}) div 2, "
        f"'v', (acc.v + (x.w - acc.pw) * {L}) div 2, 'pw', x.w)",
    )
    return st.selectExpr(
        "p AS partkey",
        "n AS n_demand_periods",
        "st.s AS size_lat",
        "st.v AS interval_lat",
        f"CAST(st.s AS DOUBLE) / {L} AS smoothed_size",
        f"CAST(st.v AS DOUBLE) / {L} AS smoothed_interval",
        "CAST(st.s AS DOUBLE) / st.v AS croston_fc",
    )
