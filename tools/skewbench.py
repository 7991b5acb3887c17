"""Planted-skew measurement for the join_skew_salted story (SCALE.md).

Plants a pathological key distribution — ONE supplier owning half the
fact rows — and measures the same aggregate join three ways:

  plain   shuffle hash/sort-merge join, AQE skew handling OFF
          (what a naive plan does: the hot key's entire row set lands
          in one shuffle partition / one task)
  aqe     AQE skew-join splitting ON (Spark's zero-code mitigation)
  salted  join_skew_salted's explicit (key, salt) rewrite — the
          pattern that also covers what AQE can't (single-key
          aggregation state, already-aggregated build sides)

Prints one markdown table row per variant: wall seconds (observe.measure's
median), plus a hash-equality check of salted vs plain results. Run:

    python tools/skewbench.py [n_rows] [skew_frac]

A second mode measures the DEGREE-CAP guard on the blocked pair
self-join (the pattern behind graph_bipartite_projection,
agg_market_basket, multimodal_phash_pairs): plant one hub key whose
degree makes the per-key quadratic term dominate, and time the capped
vs uncapped join. Run:

    python tools/skewbench.py hub [n_normal_keys] [hub_degree]

A third mode measures join_geo_radius's hot-city-cell story: a dense
cell is compute-skewed from tiny input, which stock AQE's byte-based
skew detector misses — the measurement behind the density-scaled
threshold guidance in operators/geo.py and SCALE.md. Run:

    python tools/skewbench.py geo [n_cust] [n_supp] [hot_frac]
"""

from __future__ import annotations

import contextlib
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from agri_market_data_pipeline_spark import observe  # noqa: E402
from agri_market_data_pipeline_spark.functions.exact import dsum  # noqa: E402
from agri_market_data_pipeline_spark.session import get_spark  # noqa: E402

_SALT = 16


@contextlib.contextmanager
def _confs(spark, confs: dict[str, str]):
    """Set ``confs`` for the block, then restore each key's old value
    (unset when it had none)."""
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _freeze(df, root: str, name: str):
    """``df`` written once as parquet under ``root`` and read back: the
    planted input stays out of the timing and, unlike a checkpoint,
    outlives the memo.clear_all() that ends every sample."""
    path = os.path.join(root, name)
    df.write.parquet(path)
    return df.sparkSession.read.parquet(path)


def main(root: str) -> int:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    skew_frac = float(sys.argv[2]) if len(sys.argv) > 2 else 0.5
    n_keys = 100

    spark = get_spark("skewbench")
    spark.sparkContext.setLogLevel("ERROR")

    # Planted skew: key 0 owns skew_frac of all rows; the rest uniform.
    cut = int(n_rows * skew_frac)
    fact = _freeze(
        spark.range(n_rows, numPartitions=32).select(
            F.when(F.col("id") < cut, F.lit(0))
            .otherwise((F.col("id") % (n_keys - 1)) + 1)
            .cast("long")
            .alias("k"),
            (F.col("id") % 1000).cast("double").alias("v"),
            F.col("id").alias("rid"),
        ),
        root,
        "fact",
    )
    dim = _freeze(
        spark.range(n_keys).select(
            F.col("id").alias("k"), F.concat(F.lit("key-"), F.col("id")).alias("name")
        ),
        root,
        "dim",
    )

    def plain():
        return (
            fact.join(dim.hint("shuffle_hash"), "k")
            .groupBy("name")
            .agg(F.count("*").alias("n"), dsum("v").alias("sv"))
        )

    def salted():
        f = fact.withColumn("salt", (F.col("rid") % _SALT).cast("int"))
        d = dim.withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT)]))
        )
        return (
            f.join(d.hint("shuffle_hash"), ["k", "salt"])
            .groupBy("name")
            .agg(F.count("*").alias("n"), dsum("v").alias("sv"))
        )

    def timed(mk, aqe_skew: bool, aqe: bool = True) -> float:
        confs = {
            "spark.sql.adaptive.enabled": str(aqe).lower(),
            "spark.sql.adaptive.skewJoin.enabled": str(aqe_skew).lower(),
            # keep the dim side out of broadcast so the shuffle join
            # (the skew-sensitive plan) is what actually runs
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        }
        with _confs(spark, confs):
            return observe.measure(spark, mk, 3).median

    rows = [
        ("plain (AQE skew off)", timed(plain, aqe_skew=False, aqe=False)),
        ("AQE skew split", timed(plain, aqe_skew=True)),
        ("salted x16 (AQE off)", timed(salted, aqe_skew=False, aqe=False)),
    ]
    # correctness cross-check: salted == plain results
    a = plain().orderBy("name").collect()
    b = salted().orderBy("name").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b], "salted != plain"

    print(f"planted skew: {n_rows:,} fact rows, key 0 owns {skew_frac:.0%}, "
          f"{n_keys} keys, {spark.sparkContext.master}")
    print("| variant | median wall s |")
    print("|---------|--------------:|")
    for name, t in rows:
        print(f"| {name} | {t:.3f} |")
    print("salted result hash-equal to plain: yes")
    return 0


def hub_main(root: str) -> int:
    """Planted-hub degree-cap measurement: one key with `hub_degree`
    distinct values (C(d,2) candidate pairs), `n_normal` keys with 3
    each. Times the blocked pair self-join uncapped vs rank-capped at
    the bipartite generator's cap — the measured artifact behind the
    conditional cap decision (VERDICT r5 item 8)."""
    from pyspark.sql import Window

    from agri_market_data_pipeline_spark.operators.graph import (
        _BP_DEGREE_CAP,
    )

    n_normal = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    hub_degree = int(sys.argv[3]) if len(sys.argv) > 3 else 6_000

    spark = get_spark("skewbench-hub")
    spark.sparkContext.setLogLevel("ERROR")

    hub = spark.range(hub_degree).select(
        F.lit(0).cast("long").alias("cust"), F.col("id").alias("part")
    )
    normal = spark.range(n_normal).select(
        (F.col("id") + 1).alias("cust"),
        F.explode(
            F.array(
                (F.col("id") % 97), (F.col("id") % 89 + 100), (F.col("id") % 83 + 200)
            )
        ).alias("part"),
    )
    cp = _freeze(hub.union(normal).repartition(32), root, "hub")

    def pairs(frame):
        a, b = frame.alias("a"), frame.alias("b")
        return (
            a.join(
                b,
                (F.col("a.cust") == F.col("b.cust"))
                & (F.col("a.part") < F.col("b.part")),
            )
            .groupBy(F.col("a.part").alias("pa"), F.col("b.part").alias("pb"))
            .agg(F.count("*").alias("w"))
        )

    def capped():
        w = Window.partitionBy("cust").orderBy("part")
        return pairs(
            cp.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= _BP_DEGREE_CAP)
            .drop("_rn")
        )

    t_un = observe.measure(spark, lambda: pairs(cp), 3).median
    t_cap = observe.measure(spark, capped, 3).median
    print(
        f"planted hub: 1 key x degree {hub_degree:,} "
        f"(C(d,2)={hub_degree * (hub_degree - 1) // 2:,} pairs) + "
        f"{n_normal:,} keys x degree 3; cap={_BP_DEGREE_CAP}"
    )
    print("| variant | median wall s |")
    print("|---------|--------------:|")
    print(f"| uncapped pair self-join | {t_un:.3f} |")
    print(f"| degree-capped (rank<=cap) | {t_cap:.3f} |")
    print(f"cap speedup at this hub: {t_un / t_cap:.2f}x")
    return 0


def geo_main(root: str) -> int:
    """Planted hot-city-cell measurement for join_geo_radius's skew
    story: pin `hot_frac` of both customers and suppliers into ONE grid
    cell (a megacity), so roughly half the candidate-pair work of the
    cell-blocked equi-join lands on a single shuffle key, and time the
    join with AQE skew-join splitting ON vs OFF. The quadratic hot-cell
    pair count is inherent to radius semantics (dense-city pairs really
    are all within R); what the plan controls is whether one task eats
    it — the measured artifact behind geo.py's 'AQE's skew-join split
    handles a hot city cell' claim. Run:

        python tools/skewbench.py geo [n_cust] [n_supp] [hot_frac]
    """
    from agri_market_data_pipeline_spark.operators.geo import (
        _LAT_BASE,
        _LAT_SPAN,
        _LON_BASE,
        _LON_SPAN,
        _R_KM,
        _cell_cols,
        _hash_coord,
        _haversine_km,
    )

    n_cust = int(sys.argv[2]) if len(sys.argv) > 2 else 30_000
    n_supp = int(sys.argv[3]) if len(sys.argv) > 3 else 15_000
    hot_frac = float(sys.argv[4]) if len(sys.argv) > 4 else 0.3

    spark = get_spark("skewbench-geo")
    spark.sparkContext.setLogLevel("ERROR")

    # hot city ~ Delhi; pinned points jitter on a ~0.2-degree lattice so
    # they stay inside one cell but are not literally identical
    def frame(n: int, salt: str, n_hot: int):
        d = spark.range(n, numPartitions=32).select(
            F.col("id"),
            _hash_coord(F.col("id"), salt + "lat", _LAT_BASE, _LAT_SPAN).alias(
                "lat"
            ),
            _hash_coord(F.col("id"), salt + "lon", _LON_BASE, _LON_SPAN).alias(
                "lon"
            ),
        )
        hot = F.col("id") < n_hot
        d = d.select(
            "id",
            F.when(hot, F.lit(28.6) + (F.col("id") % 2000) / 10000.0)
            .otherwise(F.col("lat"))
            .alias("lat"),
            F.when(hot, F.lit(77.2) + (F.col("id") % 2000) / 10000.0)
            .otherwise(F.col("lon"))
            .alias("lon"),
        )
        cy, cx = _cell_cols(F.col("lat"), F.col("lon"))
        return _freeze(
            d.select("id", "lat", "lon", cy.alias("cy"), cx.alias("cx")), root, salt
        )

    cust = frame(n_cust, "gc", int(n_cust * hot_frac))
    supp = frame(n_supp, "gs", int(n_supp * hot_frac))

    def radius_join():
        off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
        probe = (
            cust.select(
                F.col("id").alias("cid"),
                F.col("lat").alias("c_lat"),
                F.col("lon").alias("c_lon"),
                "cy",
                "cx",
            )
            .select("*", off.alias("dy"))
            .select("*", off.alias("dx"))
        )
        s = supp.select(
            F.col("id").alias("sid"),
            F.col("lat").alias("s_lat"),
            F.col("lon").alias("s_lon"),
            F.col("cy").alias("scy"),
            F.col("cx").alias("scx"),
        )
        d = _haversine_km(
            F.col("c_lat"), F.col("c_lon"), F.col("s_lat"), F.col("s_lon")
        )
        return (
            probe.join(
                s,
                (probe.cy + probe.dy == s.scy) & (probe.cx + probe.dx == s.scx),
            )
            .withColumn("d", d)
            .filter(F.col("d") <= F.lit(_R_KM))
            .groupBy("cid")
            .agg(F.count("*").alias("n_within"), F.min("d").alias("nearest"))
        )

    # The hot cell is COMPUTE-skewed, not byte-skewed: its quadratic
    # pair output comes from a few MB of shuffle input, far below AQE's
    # default 256 MB skewedPartitionThresholdInBytes — so stock AQE
    # never splits it (measured: 0.98x, i.e. no effect). The fix is
    # scaling the byte thresholds to the join's compute density; the
    # 'tuned' variant is what a geo-join job config must ship.
    _SKEW_CONFS = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256k",
    }

    def timed(skew_on: bool, tuned: bool) -> float:
        confs = {
            "spark.sql.adaptive.skewJoin.enabled": str(skew_on).lower(),
            # force shuffle joins so the skewed exchange actually exists
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            **(_SKEW_CONFS if tuned else {}),
        }
        with _confs(spark, confs):
            return observe.measure(spark, radius_join, 3).median

    t_off = timed(False, False)
    t_stock = timed(True, False)
    t_tuned = timed(True, True)
    hot_pairs = int(n_cust * hot_frac) * int(n_supp * hot_frac)
    print(
        f"planted hot cell: {hot_frac:.0%} of {n_cust:,} customers and "
        f"{n_supp:,} suppliers in one city cell "
        f"(~{hot_pairs:,} hot candidate pairs on one shuffle key)"
    )
    print("| variant | median wall s |")
    print("|---------|--------------:|")
    print(f"| skew split OFF | {t_off:.3f} |")
    print(f"| skew split ON, stock 256 MB byte threshold | {t_stock:.3f} |")
    print(f"| skew split ON, thresholds scaled to compute density | {t_tuned:.3f} |")
    print(f"stock-AQE speedup: {t_off / t_stock:.2f}x (byte heuristic misses compute skew)")
    print(f"tuned-threshold speedup: {t_off / t_tuned:.2f}x")
    return 0


def zipf_main(root: str) -> int:
    """Fourth mode (r7): measure the LM count-join ROUTING counterfactual
    behind textstats' conditional head/tail split. On the driver
    testdata the vocabulary is 31 tokens, so the whole model broadcasts
    and routing is scaffolding (the conditional skips it — measured in
    bench). This mode plants the case the routing exists FOR: a
    Zipf-distributed fact over a vocabulary far larger than the
    broadcast head, joined to its count table three ways:

      broadcast-all  broadcast the ENTIRE count table (what the
                     conditional does when it fits — here it should
                     LOSE or OOM-risk: the table is deliberately huge)
      shuffle        plain shuffle join (the no-routing baseline)
      routed         broadcast top-HEAD keys + shuffle the tail misses

    Run: python tools/skewbench.py zipf [n_rows] [vocab]
    """
    n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000_000
    vocab = int(sys.argv[3]) if len(sys.argv) > 3 else 500_000
    head = 4096
    spark = get_spark("skewbench-zipf")
    spark.sparkContext.setLogLevel("ERROR")

    # Zipf-ish fact as a hot-head/uniform-tail mixture: 90% of rows hit
    # one of `head` hot keys, 10% spread uniformly over the full vocab —
    # the floor(vocab/u) inverse form looks Zipfy but has only ~2*sqrt(vocab)
    # DISTINCT values, which silently shrinks the count table to
    # broadcast-trivial size and voids the experiment.
    u = F.pmod(F.hash(F.col("id")), F.lit(100))
    hot = F.pmod(F.hash(F.col("id") + 1), F.lit(head))
    cold = F.lit(head) + F.pmod(F.hash(F.col("id") + 2), F.lit(vocab))
    fact = _freeze(
        spark.range(0, n_rows, 1, 32).select(
            F.when(u < 90, hot).otherwise(cold).cast("long").alias("tok"),
            F.col("id"),
        ),
        root,
        "fact",
    )
    counts = _freeze(
        fact.groupBy("tok").agg(F.count("*").alias("cnt")), root, "counts"
    )
    print(f"fact rows {n_rows}, distinct keys {counts.count()}, head {head}")

    def broadcast_all():
        return fact.join(F.broadcast(counts), "tok")

    def shuffle():
        return fact.join(counts, "tok")

    def routed():
        h = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(head)
        hj = fact.join(F.broadcast(h), "tok", "left")
        return hj.filter(F.col("cnt").isNotNull()).unionByName(
            hj.filter(F.col("cnt").isNull()).drop("cnt").join(counts, "tok")
        )

    def timed(mk) -> float:
        return observe.measure(spark, lambda: mk().groupBy().agg(F.sum("cnt")), 3).median

    a = timed(shuffle)
    b = timed(routed)
    c = timed(broadcast_all)
    print("| variant | median wall s |")
    print("|---------|--------------:|")
    print(f"| plain shuffle join | {a:.3f} |")
    print(f"| routed (broadcast head + tail shuffle) | {b:.3f} |")
    print(f"| broadcast entire {vocab}-key table | {c:.3f} |")
    print(f"routing speedup over shuffle: {a / b:.2f}x")
    print(f"routing speedup over broadcast-all: {c / b:.2f}x")
    return 0


if __name__ == "__main__":
    mode = {"hub": hub_main, "geo": geo_main, "zipf": zipf_main}
    run = mode.get(sys.argv[1] if len(sys.argv) > 1 else "", main)
    # the planted inputs' parquet lives here and goes with the process
    with tempfile.TemporaryDirectory(prefix="skewbench_") as root:
        raise SystemExit(run(root))
