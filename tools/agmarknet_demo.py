"""The switch story, executed: load the reference's REAL output corpus
(/root/reference/data/crops/*.csv, 292 commodities, ~1.5M rows) through
this engine's scan/cleaning layer and run the §2 analytical queries its
data model exists for — the queries a reference user gains by switching.

    python tools/agmarknet_demo.py [crops_glob]

Read-only on the reference data; prints a compact report.

Live-API path: the same corpus can be ingested directly from the
data.gov.in endpoint the reference polls, using the production fetcher
(`sources/paginated_api.py::http_fetcher` — env-keyed, per-worker
session pool, records-envelope parsing) fed to `read_paginated_api`
with the reference's retry ladder; this demo reads the shipped CSVs so
it runs offline.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from agri_market_data_pipeline_spark.functions.exact import (  # noqa: E402
    DEC_WIDE,
    davg,
    dsum,
)
from agri_market_data_pipeline_spark.operators.scalar_fns import safe_name  # noqa: E402
from agri_market_data_pipeline_spark.schemas import AGMARKNET_SCHEMA  # noqa: E402
from agri_market_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    glob = sys.argv[1] if len(sys.argv) > 1 else "/root/reference/data/crops/*.csv"
    spark = get_spark("agmarknet-demo")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()

    # scan_csv on the reference's own layout: explicit schema, PERMISSIVE
    prices = (
        spark.read.schema(AGMARKNET_SCHEMA)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(glob)
    )
    n = prices.count()
    print(f"loaded {n:,} quotations from the reference corpus "
          f"({time.time()-t0:.1f}s)")

    # filter_quality: the residual dirt the reference ships (§1.3.5)
    bad = prices.filter(F.col("Min_Price") > F.col("Max_Price")).count()
    print(f"quality: {bad:,} rows with Min_Price > Max_Price "
          f"({100.0*bad/n:.3f}% — flagged, not silently kept)")

    # agg_price_stats: per (Commodity, State, month)
    stats = (
        prices.groupBy(
            "Commodity", "State", F.date_trunc("month", "Arrival_Date").alias("month")
        )
        .agg(
            F.count("*").alias("n_quotes"),
            davg("Modal_Price").alias("avg_modal"),
            F.min("Min_Price").alias("min_p"),
            F.max("Max_Price").alias("max_p"),
        )
    )
    print(f"price stats: {stats.count():,} (commodity, state, month) groups")

    # win_rank_topk: top market by average modal price per commodity
    mkt = (
        prices.groupBy("Commodity", "State", "Market")
        .agg(davg("Modal_Price").alias("avg_modal"), F.count("*").alias("n"))
        .filter(F.col("n") >= 50)
    )
    w = Window.partitionBy("Commodity").orderBy(F.desc("avg_modal"), F.asc("Market"))
    top = mkt.withColumn("rnk", F.rank().over(w)).filter(F.col("rnk") == 1)
    print("sample top markets by avg modal price (n>=50):")
    for r in top.orderBy(F.desc("avg_modal")).limit(5).collect():
        print(f"  {r.Commodity:24s} {r.Market}, {r.State}: "
              f"avg ₹{r.avg_modal:,.0f}/quintal over {r.n} quotes")

    # win_moving_avg: 30-day MA for the largest commodity in the corpus
    biggest = (
        prices.groupBy("Commodity").count().orderBy(F.desc("count")).first()
    )
    series = (
        prices.filter(F.col("Commodity") == biggest["Commodity"])
        .groupBy("Arrival_Date")
        .agg(davg("Modal_Price").alias("daily"))
    )
    day_no = F.datediff("Arrival_Date", F.lit("2006-01-01").cast("date"))
    wma = (
        Window.orderBy(day_no.cast("long"))
        .rangeBetween(-29, 0)
    )
    ma = series.select(
        "Arrival_Date",
        "daily",
        F.avg("daily").over(wma).alias("ma30"),
    )
    last = ma.orderBy(F.desc("Arrival_Date")).first()
    print(f"{biggest['Commodity']}: {series.count():,} trading days; latest 30-day MA "
          f"₹{last.ma30:,.0f} (on {last.Arrival_Date})")

    # ts_gap_fill: mandi markets don't trade daily — densify the biggest
    # commodity's series to the full calendar and carry prices forward
    rng = series.agg(
        F.min("Arrival_Date").alias("d0"), F.max("Arrival_Date").alias("d1")
    ).first()
    n_cal = (rng["d1"] - rng["d0"]).days + 1
    print(
        f"gap fill: {series.count():,} trading days -> {n_cal:,} calendar "
        f"days ({100.0 * (1 - series.count() / n_cal):.1f}% of days carry "
        f"the last quotation forward)"
    )

    # dedup_exact: the reference's append-then-checkpoint order re-appends
    # the in-flight page after a crash — audit the shipped corpus for it
    key_cols = [c.name for c in AGMARKNET_SCHEMA.fields]
    dupes = (
        prices.groupBy(*key_cols)
        .count()
        .filter(F.col("count") > 1)
        .agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0)).alias("extra"))
        .first()["extra"]
    )
    print(f"dedup audit: {dupes:,} exact re-appended quotation rows "
          f"(idempotent MERGE removes them at ingest)")

    # dq_profile: the one-pass column profile every harvest run should
    # publish (the reference's only QA is eyeballing git diffs)
    prof_cols = ["State", "Arrival_Date", "Modal_Price", "Commodity_Code"]
    basic = prices.agg(
        *[
            a
            for c in prof_cols
            for a in (
                (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
                F.min(c).cast("string").alias(f"{c}__min"),
                F.max(c).cast("string").alias(f"{c}__max"),
            )
        ]
    )
    dist = prices.agg(
        *[F.count_distinct(F.col(c)).alias(f"{c}__nd") for c in prof_cols]
    )
    prow = basic.join(dist).first()
    print("column profile (one scan):")
    for c in prof_cols:
        print(
            f"  {c:16s} nulls={prow[f'{c}__nulls']:<7,} "
            f"distinct={prow[f'{c}__nd']:<8,} "
            f"range [{prow[f'{c}__min']} .. {prow[f'{c}__max']}]"
        )

    # agg_mode: the 'modal' in Modal_Price, computed rather than trusted —
    # most frequent quoted modal price per commodity, deterministic ties
    counted = (
        prices.filter(F.col("Modal_Price").isNotNull())
        .groupBy("Commodity", F.col("Modal_Price").cast("bigint").alias("q"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    modal = (
        counted.groupBy("Commodity")
        .agg(
            F.max_by("q", F.col("cnt") * F.lit(1 << 24) - F.col("q")).alias(
                "modal_price"
            ),
            F.max("cnt").alias("n_at_mode"),
            F.sum("cnt").alias("nq"),
        )
        .filter(F.col("nq") >= 10000)
        .orderBy(F.desc("n_at_mode"))
    )
    m = modal.first()
    print(
        f"modal price recomputed: {m.Commodity} quotes ₹{m.modal_price:,}"
        f"/quintal in {m.n_at_mode:,} of {m.nq:,} quotations"
    )

    # sample_hash: a reproducible ~1% dev slice, stable on any cluster
    skey = F.concat_ws(
        "|", "State", "District", "Market", "Commodity", "Variety", "Grade",
        F.col("Arrival_Date").cast("string"),
    )
    s_n = prices.filter(
        F.conv(F.substring(F.md5(skey), 1, 8), 16, 10).cast("long") % 100 < 1
    ).count()
    print(f"hash sample: {s_n:,} rows in the deterministic 1% dev slice")

    # ts_ohlc: monthly OHLC bars of the biggest commodity's daily price
    # (packed-key min_by/max_by — one sort-free aggregate pass)
    tbk = F.unix_date(F.col("Arrival_Date")).cast("long")
    bars = (
        series.groupBy(F.date_trunc("month", "Arrival_Date").cast("date").alias("m"))
        .agg(
            F.min_by("daily", tbk).alias("open"),
            F.max("daily").alias("high"),
            F.min("daily").alias("low"),
            F.max_by("daily", tbk).alias("close"),
        )
    )
    b = bars.orderBy(F.desc("m")).first()
    print(f"OHLC: {bars.count():,} monthly bars for {biggest['Commodity']}; "
          f"latest {b.m:%Y-%m}: O ₹{b.open:,.0f} H ₹{b.high:,.0f} "
          f"L ₹{b.low:,.0f} C ₹{b.close:,.0f}")

    # anomaly_zscore: quotes > 4σ above their commodity mean (real mandi
    # data is heavy-tailed — the data-quality flag the reference lacks)
    x = F.col("Modal_Price")
    cstats = prices.groupBy("Commodity").agg(
        F.count("*").alias("cn"),
        dsum(x).alias("cs1"),
        dsum(x * x, DEC_WIDE).alias("cs2"),
    ).select(
        "Commodity",
        (F.col("cs1") / F.col("cn")).alias("cmean"),
        F.sqrt(
            F.greatest(
                F.col("cs2") / F.col("cn")
                - (F.col("cs1") / F.col("cn")) * (F.col("cs1") / F.col("cn")),
                F.lit(0.0),
            )
        ).alias("csd"),
    )
    # multiply form, not (x-mean)/sd: division-free, so constant-price
    # commodities (sd=0) safely flag nothing instead of tripping ANSI
    # divide-by-zero
    spikes = (
        prices.join(F.broadcast(cstats), "Commodity")
        .filter((x - F.col("cmean")) > 4.0 * F.col("csd"))
        .count()
    )
    print(f"spike audit: {spikes:,} quotations sit >4 sigma above their "
          f"commodity mean ({100.0*spikes/n:.3f}% — flagged for review)")

    # win_pareto_share: how concentrated is the corpus across commodities?
    cq = prices.groupBy("Commodity").agg(F.count("*").cast("long").alias("nq"))
    wcum = Window.orderBy(F.desc("nq"), "Commodity").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pareto = cq.select(
        "Commodity",
        (F.sum("nq").over(wcum) / F.sum("nq").over(wtot)).alias("cshare"),
    )
    n_a = pareto.filter(F.col("cshare") <= 0.80).count()
    print(f"pareto: {n_a} of {cq.count()} visible commodities carry 80% of "
          f"all quotations (class A of the ABC split)")

    # agg_entropy: variety-mix diversity per commodity — quantifies the
    # 'Variety=Other for half the rows' skew (SURVEY.md §1.3.5)
    vc = prices.groupBy("Commodity", "Variety").agg(F.count("*").alias("c"))
    ent = vc.groupBy("Commodity").agg(
        (F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c")).alias("H"),
        F.sum("c").alias("nr"),
    )
    hi = ent.filter(F.col("nr") >= 1000).orderBy(F.desc("H")).first()
    lo = ent.filter(F.col("nr") >= 1000).orderBy(F.asc("H")).first()
    print(f"variety entropy (n>=1000): most diverse {hi.Commodity} "
          f"(H={hi.H:.2f} nats), least {lo.Commodity} (H={lo.H:.2f})")

    # ts_seasonal_profile: month-of-year price seasonality of the biggest
    # commodity — the 'prices spike before monsoon' query
    big = prices.filter(F.col("Commodity") == biggest["Commodity"])
    mo = big.groupBy(F.month("Arrival_Date").alias("moy")).agg(
        dsum("Modal_Price").alias("s"),
        F.count("*").alias("cn"),
    )
    tot = big.agg(
        dsum("Modal_Price").alias("sa"),
        F.count("*").alias("na"),
    )
    season = (
        mo.join(tot)
        .select("moy", ((F.col("s") / F.col("cn")) / (F.col("sa") / F.col("na"))).alias("idx"))
        .orderBy("moy")
        .collect()
    )
    peak = max(season, key=lambda r: r.idx)
    trough = min(season, key=lambda r: r.idx)
    print(
        f"seasonality ({biggest['Commodity']}): peak month {peak.moy} "
        f"(idx {peak.idx:.2f}), trough month {trough.moy} (idx {trough.idx:.2f})"
    )

    # win_streak: longest unbroken daily-quotation run — the freshness
    # metric the 3-hourly harvest implies but never computes
    mkt_days = prices.select(
        "Market", "Commodity", F.col("Arrival_Date").alias("d")
    ).distinct()
    wrun = Window.partitionBy("Market", "Commodity").orderBy("d")
    streaks = (
        mkt_days.select(
            "Market",
            "Commodity",
            (F.unix_date("d").cast("long") - F.row_number().over(wrun)).alias("grp"),
        )
        .groupBy("Market", "Commodity", "grp")
        .agg(F.count("*").alias("len"))
        .orderBy(F.desc("len"))
    )
    s = streaks.first()
    print(
        f"longest quotation streak: {s.Market} quoted {s.Commodity} "
        f"{s.len} consecutive days"
    )

    # group_partition_by_key: the reference's file layout, recomputed
    n_parts = prices.select(safe_name("Commodity")).distinct().count()
    print(f"partition layout: {n_parts} safe_name'd commodity partitions "
          f"(reference ships 292 files)")
    print(f"total wall time {time.time()-t0:.1f}s on local[*]")
    print(
        "live ingest path: sources.paginated_api.http_fetcher("
        "'https://api.data.gov.in/resource/<resource-id>') + "
        "read_paginated_api(...) streams the same feed this corpus came "
        "from, api key via $DATA_GOV_API_KEY (reference fetch_data.py "
        "parity; loopback-HTTP-tested in tests/test_ingest.py)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
