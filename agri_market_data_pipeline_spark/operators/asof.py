"""As-of and interval joins (SURVEY.md §2.B join_asof_prices,
join_interval_events).

Spark has no native AS OF join; the scalable formulation is the
union-and-carry-forward pattern: union the build (index) rows and probe
rows, sort within the join key by (time, side), and carry the last
non-null build value forward with last(..., ignorenulls) — one shuffle,
no per-row point lookups, no nested-loop blowup. DuckDB *does* have a
native ASOF JOIN, which is the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import davg, sql_davg
from ..memo import pin
from ..registry import query
from ..tables import load



def _daily_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (priority, day) exact price index — the shared build side."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(davg("o_totalprice").alias("idx_val"))


def _probe_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipment probe rows (lineitem keyed by priority via orders); the
    equi-join strategy is left to the planner — orders is a fact table,
    so forcing a broadcast here would be wrong at scale."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return li.join(
        o.select("o_orderkey", "o_orderpriority"), li.l_orderkey == o.o_orderkey
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("o_orderpriority").alias("prio"),
        F.col("l_shipdate").cast("date").alias("sd"),
    )


# Oracle twin of `_daily_index` and `_probe_shipments`: the CTEs `idx`
# and `probe`, shared by the as-of oracles; it follows `WITH`.
_ASOF_SQL = f"""idx AS (
    SELECT o_orderpriority AS prio,
           CAST(o_orderdate AS DATE) AS d,
           {sql_davg("o_totalprice")} AS idx_val
    FROM orders
    GROUP BY 1, 2
),
probe AS (
    SELECT l.l_orderkey, l.l_linenumber,
           o.o_orderpriority AS prio,
           CAST(l.l_shipdate AS DATE) AS sd
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)"""


def _densified_index(spark: SparkSession, sf_dir: str):
    """(per-key range, forward-filled daily index) — the shared build
    side of the densify-and-broadcast as-of strategy. The index is
    materialized once (localCheckpoint) because it feeds three subtrees
    (range bounds, densify left-join, clamp broadcast) that Spark would
    otherwise recompute as three full orders-table aggregations; the
    forward-fill window runs over the SMALL side only."""
    idx = pin(_daily_index(spark, sf_dir))
    rng = idx.groupBy("prio").agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    dense_days = rng.select(
        "prio", F.explode(F.sequence("d0", "d1")).alias("d")
    )
    wff = (
        Window.partitionBy("prio")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dense = (
        dense_days.join(idx, ["prio", "d"], "left")
        .select(
            "prio",
            "d",
            F.last(F.when(F.col("idx_val").isNotNull(), F.col("d")), ignorenulls=True)
            .over(wff)
            .alias("idx_date"),
            F.last("idx_val", ignorenulls=True).over(wff).alias("idx_val"),
        )
    )
    return rng, dense


@query(
    "join_asof_prices",
    oracle=f"""
WITH {_ASOF_SQL}
SELECT p.l_orderkey, p.l_linenumber, p.sd,
       i.d AS idx_date, i.idx_val
FROM probe p
ASOF JOIN idx i ON p.prio = i.prio AND p.sd >= i.d
""",
)
def join_asof_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each shipment looks up the latest daily order-price
    index at or before its ship date (per priority class) — the 'latest
    quote ≤ date per market×commodity' query of SURVEY.md §2.B.

    Strategy (small build side): densify-and-broadcast. The daily index
    is forward-filled over each key's full calendar range (a window over
    the SMALL side only), broadcast, and the probe side equi-joins on
    (key, clamp(date)) — the as-of becomes a broadcast hash join with
    ZERO shuffle and zero sort of the probe table. Probe dates past the
    last index day clamp to it (as-of semantics); dates before the first
    drop (inner as-of).

    When the build side is too large per key to densify/broadcast, use
    `asof_union_carry` below — one shuffle+sort, no size assumption."""
    rng, dense = _densified_index(spark, sf_dir)
    probe = _probe_shipments(spark, sf_dir)
    clamped = probe.join(F.broadcast(rng), "prio").filter(
        F.col("sd") >= F.col("d0")
    ).select(
        "l_orderkey",
        "l_linenumber",
        "prio",
        "sd",
        F.least("sd", "d1").alias("join_d"),
    )
    return (
        clamped.join(
            F.broadcast(dense),
            (clamped.prio == dense.prio) & (clamped.join_d == dense.d),
        )
        .select("l_orderkey", "l_linenumber", "sd", "idx_date", "idx_val")
    )


def asof_union_carry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-size as-of join: union build+probe rows, sort within key
    by (date, side) with build first on ties (inclusive as-of), carry
    the last non-null build value forward. One exchange + sort, no
    assumption on build-side size. Kept as the fallback strategy and
    cross-checked against the broadcast formulation in tests."""
    idx = _daily_index(spark, sf_dir)
    probe = _probe_shipments(spark, sf_dir)

    build_side = idx.select(
        "prio",
        F.col("d").alias("t"),
        F.lit(0).alias("is_probe"),
        F.lit(None).cast("long").alias("l_orderkey"),
        F.lit(None).cast("int").alias("l_linenumber"),
        F.col("d").alias("idx_date"),
        "idx_val",
    )
    probe_side = probe.select(
        "prio",
        F.col("sd").alias("t"),
        F.lit(1).alias("is_probe"),
        "l_orderkey",
        "l_linenumber",
        F.lit(None).cast("date").alias("idx_date"),
        F.lit(None).cast("double").alias("idx_val"),
    )
    # (l_orderkey, l_linenumber) make the ordering total: tied probe rows
    # currently only carry NULLs forward, but a partial order here is one
    # refactor away from nondeterministic output (CLAUDE.md window rule)
    w = (
        Window.partitionBy("prio")
        .orderBy("t", "is_probe", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = build_side.unionByName(probe_side).select(
        "prio",
        "t",
        "is_probe",
        "l_orderkey",
        "l_linenumber",
        F.last("idx_date", ignorenulls=True).over(w).alias("idx_date"),
        F.last("idx_val", ignorenulls=True).over(w).alias("idx_val"),
    )
    return (
        carried.filter((F.col("is_probe") == 1) & F.col("idx_val").isNotNull())
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("t").alias("sd"),
            "idx_date",
            "idx_val",
        )
    )


@query(
    "join_interval_events",
    oracle="""
SELECT c.event_id,
       COUNT(p.event_id) AS n_purchases_5m
FROM events c
LEFT JOIN events p
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL 5 MINUTE
WHERE c.event_type = 'click'
GROUP BY c.event_id
""",
)
def join_interval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join (batch form; the stream-stream variant
    with watermarks lives in streaming/joins.py): purchases within 5
    minutes after each click by the same user. The equi key (user_id)
    makes this a plain shuffled equi-join with the time bound applied as
    a post-join filter — no nested loop; the interval bound is also what
    lets the streaming version expire state."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    j = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 5 MINUTES")),
        "left",
    )
    return j.groupBy(F.col("c_event_id").alias("event_id")).agg(
        F.count("p_event_id").alias("n_purchases_5m")
    )


_NEAR_D = 7  # band width in days; candidates live in adjacent buckets


@query(
    "join_asof_nearest",
    oracle=f"""
WITH {_ASOF_SQL},
rep AS (
    SELECT prio, d, idx_val,
           (CAST(d - DATE '1970-01-01' AS BIGINT) // {_NEAR_D}) + off AS bkt
    FROM idx CROSS JOIN (SELECT UNNEST([-1, 0, 1]) AS off) offs
),
cand AS (
    SELECT p.l_orderkey, p.l_linenumber, p.sd, r.d, r.idx_val,
           ABS(CAST(p.sd - r.d AS BIGINT)) * 2
             + CASE WHEN r.d > p.sd THEN 1 ELSE 0 END AS k
    FROM probe p
    JOIN rep r
      ON p.prio = r.prio
     AND CAST(p.sd - DATE '1970-01-01' AS BIGINT) // {_NEAR_D} = r.bkt
    WHERE ABS(CAST(p.sd - r.d AS BIGINT)) <= {_NEAR_D}
)
SELECT l_orderkey, l_linenumber, sd,
       MIN_BY(d, k) AS idx_date,
       MIN_BY(idx_val, k) AS idx_val,
       MIN(k) // 2 AS day_dist
FROM cand
GROUP BY l_orderkey, l_linenumber, sd
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time join, the bidirectional sibling of
    join_asof_prices: each shipment takes the index quote CLOSEST to its
    ship date within ±{_NEAR_D} days, earlier winning ties. No engine
    has this natively (ASOF is one-directional), so both sides state the
    same composition: band-bucket the calendar (⌊epoch_day/{_NEAR_D}⌋),
    replicate the SMALL side into its 3 neighbor buckets, equi-join the
    probe on its own bucket — provably lossless for |Δ| ≤ {_NEAR_D} —
    then per-probe argmin via min_by on the packed key
    |Δdays|·2 + is_later (one BIGINT: magnitude then direction, unique
    per candidate date, keeps HashAggregate).

    Scale: the probe never shuffles for the band (its bucket is
    row-local); only the tiny index triples. Same playbook as
    join_range_banded, pointed at time."""
    idx = _daily_index(spark, sf_dir)
    rep = (
        idx.select(
            "prio",
            "d",
            "idx_val",
            F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("off"),
        )
        .withColumn("bkt", F.expr(f"unix_date(d) div {_NEAR_D}") + F.col("off"))
        .drop("off")
    )
    probe = _probe_shipments(spark, sf_dir).withColumn(
        "pbkt", F.expr(f"unix_date(sd) div {_NEAR_D}")
    )
    ad = F.abs(F.datediff("sd", "d")).cast("long")
    cand = (
        probe.join(
            F.broadcast(rep),
            (probe.prio == rep.prio) & (probe.pbkt == rep.bkt),
        )
        .filter(ad <= _NEAR_D)
        .select(
            "l_orderkey",
            "l_linenumber",
            "sd",
            "d",
            "idx_val",
            (ad * 2 + F.when(F.col("d") > F.col("sd"), 1).otherwise(0)).alias("k"),
        )
    )
    return cand.groupBy("l_orderkey", "l_linenumber", "sd").agg(
        F.min_by("d", F.col("k")).alias("idx_date"),
        F.min_by("idx_val", F.col("k")).alias("idx_val"),
        F.expr("min(k) div 2").alias("day_dist"),
    )


_TOL_DAYS = 7


@query(
    "join_asof_tolerance",
    oracle=f"""
WITH {_ASOF_SQL}
SELECT p.l_orderkey, p.l_linenumber, p.sd,
       CASE WHEN date_diff('day', i.d, p.sd) <= {_TOL_DAYS}
            THEN i.d END AS idx_date,
       CASE WHEN date_diff('day', i.d, p.sd) <= {_TOL_DAYS}
            THEN i.idx_val END AS idx_val
FROM probe p
ASOF LEFT JOIN idx i ON p.prio = i.prio AND p.sd >= i.d
""",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT as-of join with a staleness tolerance: the latest index at
    or before the ship date counts only if it is at most {_TOL_DAYS}
    days old — older quotes are stale, and the row surfaces with NULL
    index columns instead of silently joining a months-old price (the
    market-data hygiene rule; pandas merge_asof's `tolerance=`).

    Same densify-and-broadcast plan as join_asof_prices, with two LEFT
    deviations: probe rows before the key's first index day or past its
    densified range keep NULL join keys instead of dropping, and the
    tolerance check is a row-local post-filter on the matched gap — the
    join itself stays a zero-shuffle broadcast equi-join, so the
    tolerance costs nothing at any scale."""
    rng, dense = _densified_index(spark, sf_dir)
    probe = _probe_shipments(spark, sf_dir)
    clamped = probe.join(F.broadcast(rng), "prio", "left").select(
        "l_orderkey",
        "l_linenumber",
        "prio",
        "sd",
        F.when(F.col("sd") >= F.col("d0"), F.least("sd", "d1")).alias("join_d"),
    )
    dn = dense.withColumnRenamed("prio", "dprio")
    j = clamped.join(
        F.broadcast(dn),
        (clamped.prio == dn.dprio) & (clamped.join_d == dn.d),
        "left",
    )
    fresh = F.datediff(F.col("sd"), F.col("idx_date")) <= _TOL_DAYS
    return j.select(
        "l_orderkey",
        "l_linenumber",
        "sd",
        F.when(fresh, F.col("idx_date")).alias("idx_date"),
        F.when(fresh, F.col("idx_val")).alias("idx_val"),
    )


@query(
    "join_asof_forward",
    oracle=f"""
WITH {_ASOF_SQL}
SELECT p.l_orderkey, p.l_linenumber, p.sd,
       i.d AS idx_date, i.idx_val
FROM probe p
ASOF JOIN idx i ON p.prio = i.prio AND p.sd <= i.d
""",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — the earliest index at or AFTER the ship
    date (settlement/next-quote semantics: 'what price will this
    shipment clear at'), completing the as-of family's four directions
    (backward, nearest, tolerance, forward). Same densify-and-broadcast
    plan as join_asof_prices with the fill reversed: the daily index is
    BACKWARD-filled over each key's calendar (first upcoming value,
    a window over the SMALL side with a following frame), probe dates
    before the key's first index day clamp up to it, dates after the
    last drop (inner-forward). Still a zero-shuffle broadcast equi-join
    on the probe side at any scale."""
    idx = pin(_daily_index(spark, sf_dir))
    rng = idx.groupBy("prio").agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    dense_days = rng.select("prio", F.explode(F.sequence("d0", "d1")).alias("d"))
    wbf = (
        Window.partitionBy("prio")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    dense = dense_days.join(idx, ["prio", "d"], "left").select(
        "prio",
        "d",
        F.first(F.when(F.col("idx_val").isNotNull(), F.col("d")), ignorenulls=True)
        .over(wbf)
        .alias("idx_date"),
        F.first("idx_val", ignorenulls=True).over(wbf).alias("idx_val"),
    )
    probe = _probe_shipments(spark, sf_dir)
    clamped = (
        probe.join(F.broadcast(rng), "prio")
        .filter(F.col("sd") <= F.col("d1"))
        .select(
            "l_orderkey",
            "l_linenumber",
            "prio",
            "sd",
            F.greatest("sd", "d0").alias("join_d"),
        )
    )
    return clamped.join(
        F.broadcast(dense),
        (clamped.prio == dense.prio) & (clamped.join_d == dense.d),
    ).select("l_orderkey", "l_linenumber", "sd", "idx_date", "idx_val")


_OV_GAP_US = 30 * 60 * 1_000_000  # the win_sessionize 30-min gap
_OV_TOPK = 8      # sessions per day entering the pair stage
_OV_BUCKETS = 16  # phase-1 md5 buckets (the sample_neyman two-phase cut)

_OV_SQL = f"""
WITH x AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
  FROM events
),
s AS (
  SELECT user_id, event_id, tus,
         CAST(SUM(CASE WHEN prev IS NULL OR tus - prev > {_OV_GAP_US}
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY tus, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM x
),
sess AS (
  SELECT user_id, sid,
         CAST(MIN(tus) AS BIGINT) AS s_us,
         CAST(MAX(tus) AS BIGINT) AS e_us,
         CAST(MAX(tus) - MIN(tus) AS BIGINT) AS dur,
         CAST(MIN(tus) // 86400000000 AS BIGINT) AS day_no,
         CAST(('0x' || substring(md5('ov:' || CAST(user_id AS VARCHAR)
                                  || ':' || CAST(sid AS VARCHAR)), 1, 8))
              AS BIGINT) % {_OV_BUCKETS} AS bkt
  FROM s GROUP BY user_id, sid
),
p1 AS (
  SELECT * FROM (
    SELECT sess.*,
           ROW_NUMBER() OVER (PARTITION BY day_no, bkt
                              ORDER BY dur DESC, user_id, sid) AS r1
    FROM sess) WHERE r1 <= {_OV_TOPK}
),
p2 AS (
  SELECT * FROM (
    SELECT p1.*,
           ROW_NUMBER() OVER (PARTITION BY day_no
                              ORDER BY dur DESC, user_id, sid) AS r2
    FROM p1) WHERE r2 <= {_OV_TOPK}
)
SELECT a.day_no,
       a.user_id AS user_a, a.sid AS sid_a,
       b.user_id AS user_b, b.sid AS sid_b,
       CAST(LEAST(a.e_us, b.e_us) - GREATEST(a.s_us, b.s_us) AS BIGINT)
         AS overlap_us
FROM p2 a JOIN p2 b
  ON b.day_no = a.day_no
 AND (a.user_id < b.user_id
      OR (a.user_id = b.user_id AND a.sid < b.sid))
 AND LEAST(a.e_us, b.e_us) > GREATEST(a.s_us, b.s_us)
"""


@query("join_interval_overlap", oracle=_OV_SQL)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval OVERLAP join — the temporal-join member the
    family lacked (join_interval_events is point-in-interval;
    join_asof_* are nearest-point): among each day's {_OV_TOPK} longest
    sessions (sessions assigned to their START day), every pair whose
    intervals intersect, with the exact overlap duration — 'do the
    day's heaviest sessions coincide?', the co-activity question
    capacity planning asks after ts_session_concurrency reports the
    peak COUNT.

    Enumerating ALL overlapping pairs is inherently quadratic in
    per-hour density (the pair COUNT itself is), so the operator's
    contract is top-k-per-day: the selection is a TWO-PHASE top-k over
    {_OV_BUCKETS} md5 buckets (the sample_neyman discipline — a plain
    per-day rank window is the banned constant-cardinality-key sort;
    phase 1 ranks within (day, bucket), phase 2 ranks the ≤{_OV_BUCKETS}
    ·{_OV_TOPK} survivors), and the pair stage is day-blocked with
    ≤ C(k,2) pairs per day. Same-user pairs are impossible (gap-based
    sessions of one user are disjoint) but the lexicographic
    (user, sid) antisymmetry keeps each pair once regardless.

    Determinism: all interval arithmetic in integral epoch µs (the
    win_sessionize rule); the rank order (dur DESC, user, sid) is a
    total order over unique session keys; overlap durations are exact
    BIGINTs — full value hash, no rounding."""
    ev = load(spark, sf_dir, "events")
    tus = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    base = ev.select("user_id", "event_id", tus.alias("tus"))
    prev = F.lag("tus").over(w)
    new_sess = F.when(
        prev.isNull() | (F.col("tus") - prev > _OV_GAP_US), 1
    ).otherwise(0)
    sess = (
        base.withColumn(
            "sid",
            F.sum(new_sess)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("tus").cast("bigint").alias("s_us"),
            F.max("tus").cast("bigint").alias("e_us"),
        )
        .select(
            "user_id",
            "sid",
            "s_us",
            "e_us",
            (F.col("e_us") - F.col("s_us")).cast("bigint").alias("dur"),
            F.expr("s_us div 86400000000").cast("bigint").alias("day_no"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("ov:"),
                                F.col("user_id").cast("string"),
                                F.lit(":"),
                                F.col("sid").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % _OV_BUCKETS
            ).alias("bkt"),
        )
    )
    w1 = Window.partitionBy("day_no", "bkt").orderBy(
        F.desc("dur"), F.asc("user_id"), F.asc("sid")
    )
    p1 = sess.withColumn("r1", F.row_number().over(w1)).filter(
        F.col("r1") <= _OV_TOPK
    )
    w2 = Window.partitionBy("day_no").orderBy(
        F.desc("dur"), F.asc("user_id"), F.asc("sid")
    )
    p2 = (
        p1.withColumn("r2", F.row_number().over(w2))
        .filter(F.col("r2") <= _OV_TOPK)
        .select("day_no", "user_id", "sid", "s_us", "e_us")
    )
    a = p2.alias("a")
    b = p2.alias("b")
    ov = F.least(F.col("a.e_us"), F.col("b.e_us")) - F.greatest(
        F.col("a.s_us"), F.col("b.s_us")
    )
    return (
        a.join(
            b,
            (F.col("b.day_no") == F.col("a.day_no"))
            & (
                (F.col("a.user_id") < F.col("b.user_id"))
                | (
                    (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.sid") < F.col("b.sid"))
                )
            )
            & (ov > 0),
        )
        .select(
            F.col("a.day_no").alias("day_no"),
            F.col("a.user_id").alias("user_a"),
            F.col("a.sid").alias("sid_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("b.sid").alias("sid_b"),
            ov.cast("bigint").alias("overlap_us"),
        )
    )
