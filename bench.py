"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is fully materialized through the noop sink (distributed
execution, no driver collect) — measuring engine time, not toPandas.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from agri_market_data_pipeline_spark import observe  # noqa: E402
from agri_market_data_pipeline_spark.registry import all_queries  # noqa: E402
from agri_market_data_pipeline_spark.session import get_spark  # noqa: E402

# Headline set: the flagship price-stats query plus one representative per
# operator family. Extend as families land.
HEADLINE = [
    "agg_price_stats",
    "scan_parquet",
    "join_shuffle_equi",
    "join_broadcast_dim",
    "agg_rollup_cube",
    "win_moving_avg",
    "join_asof_prices",
    "dedup_exact",
    "dedup_near_minhash",
    "sim_search_topk",
    "text_tokenize_stats",
    "stream_tumbling_agg",
    "join_skew_salted",
    "scan_csv",
    "udf_scalar_pandas",
    "dedup_ngram_jaccard",
    "agg_grouping_sets",
    "sample_hash",
    "win_sessionize",
    "ts_gap_fill",
    "dedup_paragraph",
    "text_pii_scrub",
    "agg_vector_centroid",
    "sql_interface",
    "ts_ohlc",
    "anomaly_zscore",
    "win_pareto_share",
    "ml_kmeans_refine",
    "dq_profile",
    "agg_mode",
    "text_unigram_logprob",
    "sim_search_lsh_rp",
    "sql_star_join",
    "pack_sequences",
    "dedup_contamination",
    "dim_scd2_build",
    "graph_pagerank",
    "agg_countmin_sketch",
    "text_chunk_split",
    "scan_dpp_pruned",
    "sql_recursive_cte",
    "dedup_levenshtein",
    "agg_market_basket",
    "win_rolling_distinct",
    "incr_scd2_apply",
    "text_bigram_logprob",
    "sim_search_ivfpq",
    "dedup_incremental",
    "layout_zorder_skipping",
    "dedup_exact_substring",
    "text_ngram_novelty",
    "graph_bipartite_projection",
    "agg_bootstrap_se",
    "join_geo_radius",
    # r7 representatives: the grain-bounded pair join and the
    # build-then-iterate graph loop (pins land next round per the
    # two-run band rule; until then benchguard reports them as "new")
    "ts_theil_sen",
    "graph_kcore",
    # r8 representatives: the LPA community loop, the vector second
    # moment, the bloom index probe, the minhash merge proof, and the
    # winsorized histogram twin (same pin-next-round rule)
    "graph_label_propagation",
    "agg_vector_covariance",
    "layout_bloom_pruning",
    "incr_minhash_merge",
    "agg_winsorized_mean_sketch",
    # r9 representatives: the bounded-round BFS distance loop (pinned
    # this round from the two r9 runs), plus the round's cheap new
    # operators (pins land next round per the two-run band rule; the
    # heavy loops ml_pca_power / mix_raking_ipf stay off the headline
    # set — their scale evidence is SCALING.md's measured rows)
    "graph_khop_distance",
    "ts_var_cvar",
    "dq_table_diff",
    "join_point_in_polygon",
    "ts_holt_forecast",
    "agg_permutation_test",
    # r9 late additions (this session): discrimination metric, leakage-
    # safe encoder, link prediction, FD audit, decayed features, and the
    # seasonal smoother (pins land next round per the two-run band rule)
    "ml_auc_roc",
    "ml_target_encoding",
    "graph_adamic_adar",
    "dq_fd_violations",
    "agg_time_decay",
    "ts_holt_winters",
    "ml_woe_iv",
    "incr_bloom_merge",
    "graph_harmonic_centrality",
    "ml_lift_gains",
    "dq_l_diversity",
    "ml_kmeans_silhouette",
    "graph_assortativity",
    # r9 final additions after the close-gate pin runs — pins land next
    # round per the two-run band rule
    "ts_quantile_loss",
    "ml_ate_stratified",
    "ts_cointegration",
    # r10: incremental ANN maintenance, the adaptive-gain filter, and
    # the wavelet spectrum (pins land next round per the two-run rule)
    "incr_ann_upsert",
    "ts_kalman_filter",
    "ts_wavelet_haar",
    "udf_map_in_arrow",
    "graph_louvain_move",
    "ml_kfold_cv",
    "ml_threshold_tuning",
    # r11: the correlogram completion, the proper-scoring eval, the
    # triadic-closure profile, the dependence measure, and the
    # explainability layer (pinned THIS round from the two re-pin runs
    # — no more headlined-but-unpinned newcomers, VERDICT r10 item 3)
    "ts_pacf",
    "ml_brier_decomposition",
    "graph_clustering_coefficient",
    "ml_mutual_info",
    "ml_linear_shap",
    # r12: the calibration fit, the rank-dependence measure, the
    # conformal wrap, the listwise retrieval eval, and the
    # multiple-testing layer (pinned this round from two runs per the
    # two-run band rule)
    "ml_isotonic_calibration",
    "agg_kendall_tau",
    "ml_conformal_interval",
    "ml_ndcg_ranking",
    "agg_fdr_bh",
    "ts_dtw_distance",
    "ts_garch_volatility",
    "graph_hits",
    "ts_sax_symbolic",
    "ml_markov_chain",
    "ml_als_factorize",
    "ts_regime_viterbi",
    "agg_cuped_adjust",
    "sample_kcenter_coreset",
    "ts_permutation_entropy",
    "ml_cox_score_step",
    "agg_theta_kmv",
    "ts_croston_forecast",
    "text_plsa_em_step",
]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Ingestion throughput first, in its own JVM, before the query
    # session exists — the two workloads contend for all 32 cores and
    # measuring either in the other's shadow swings results 3-5×.
    ingest_rps, ingest_rows_per_calib = _ingest_throughput_isolated()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    names = [n for n in HEADLINE if n in queries]

    observe.warm_session(spark, sf_dir, names)

    # Same-run calibration probe: a fixed synthetic plan (range → hash
    # project → shuffle agg) whose cost depends only on the machine's
    # current CPU/JVM neighborhood, never on testdata or code under
    # test. Reporting each query relative to it makes rounds comparable
    # across environment drift — r2→r3 measured identical code at
    # 36.3 s vs 44.9 s (judge re-run 51.8 s); normalized values survive
    # that, absolute medians don't (VERDICT r3 item 2). Sampling design
    # (measured, not guessed): a single probe run has ±20% scheduler
    # variance (observed 0.42–0.87 s within one suite), so an end-only
    # or 9-sample median injects 7-10% noise into every normalized
    # value — worse than the drift it corrects. ONE probe before EACH
    # query (~53 samples) pins the run's median to ~±3% while also
    # tracking intra-suite drift; the probe cost is excluded from every
    # reported timing. Validated: two consecutive full sf0.1 runs agree
    # to 0.4% on normalized_total (95.9 vs 96.2) where absolute totals
    # drifted 4.3% — compare normalized_total round-over-round.
    calib_samples: list[float] = []

    # Settle loop (VERDICT r10 item 1): the driver's r10 run recorded its
    # first three probes at 1.03/1.16/1.29 s against a 0.47 s run median —
    # the ingest subprocess's JVM teardown and the warm-up phase's GC
    # residue contend with suite slots 1-3, and a run-median normalizer
    # can't absorb a transient that only touches the first slots. Spin
    # untimed probes until two consecutive samples agree within 20%
    # (bounded at 8 attempts), so slot 1 starts from the same
    # neighborhood every later slot enjoys.
    prev = observe.calib_run(spark)
    for _ in range(7):
        cur_probe = observe.calib_run(spark)
        if max(prev, cur_probe) / max(min(prev, cur_probe), 1e-9) < 1.2:
            break
        prev = cur_probe

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in names:
        calib_samples.append(observe.calib_run(spark))  # one probe per query slot
        m = observe.measure(spark, partial(queries[name], spark, sf_dir), 3)
        timings[name] = round(m.median, 3)
        # raw samples preserved in the detail file (VERDICT r6 item 8):
        # regression triage can separate per-query noise (wide sample
        # spread) from a plan change (tight spread at a new level)
        # without needing three full confirmation runs.
        samples[name] = [round(r, 3) for r in m.samples]

    calib_samples.append(observe.calib_run(spark))  # suite end
    calib = statistics.median(calib_samples)
    # Per-slot normalization (VERDICT r10 item 1): query i sits between
    # probes i and i+1, so a transient neighborhood shift (GC storm,
    # co-tenant burst) that inflates a few consecutive slots inflates
    # their adjacent probes identically — dividing by the RUN median
    # leaves that inflation in the normalized value (r10: slots 1-3
    # breached pins on the driver's run while a probe-adjacent re-run
    # put all three at/below pin). Median over the 4-probe window
    # centered on the slot boundary pair (probes i-1..i+2) tracks the
    # local neighborhood; a single probe is ±20% noisy, the 4-median is
    # ~±9% — a fair trade against the 2.5x error it removes. Edge
    # windows are re-widened to 4 samples.
    normalized = {
        n: round(t / slot_calib(calib_samples, i), 3)
        for i, (n, t) in enumerate(timings.items())
    }
    # normalized_total is the sum of the per-slot values so it stays
    # consistent with queries_normalized (and with benchguard's view);
    # with stable probes it agrees with total/run-median to ~1%.
    normalized_total = round(sum(normalized.values()), 3)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full per-query detail goes to a FILE — the driver captures only a
    # ~2,000-char stdout tail, and r4's 54-query `queries` +
    # `calibration_samples` + `queries_normalized` payload overflowed it
    # (BENCH_r04.json → parsed: null). The stdout contract is ONE compact
    # line (< 1,500 chars, pinned by tests/test_bench_contract.py),
    # printed LAST.
    # Tests (and ad-hoc runs) point this at a tmp path via
    # SPARK_GRAFT_BENCH_DETAIL so a subset run can never clobber the
    # committed full-run artifact (ADVICE r5: the 3-query test subset
    # overwrote the tracked BENCH_DETAIL.json).
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                # per-query medians (sec) — compare per-query, not totals:
                # totals grow as headline queries are added round-over-round
                "queries": timings,
                # machine-drift-proof view: per-query medians divided by
                # the same-run calibration probe's median (sec). Compare
                # THESE round-over-round; absolute seconds drift ±30%
                # with the environment.
                "calibration_sec": round(calib, 3),
                "calibration_samples": [round(c, 3) for c in calib_samples],
                "queries_samples": samples,
                "queries_normalized": normalized,
                "normalized_total": normalized_total,
                "sf": sf_val,
                "ingest_rows_per_sec": ingest_rps,
                # drift-proof ingest figure: rows/s x same-JVM probe-sec
                # (compare THIS round-over-round, not the raw rows/s)
                "ingest_rows_per_calib": ingest_rows_per_calib,
            },
            f,
            indent=1,
        )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "calibration_sec": round(calib, 3),
                "normalized_total": normalized_total,
                "sf": sf_val,
                "ingest_rows_per_sec": ingest_rps,
                "ingest_rows_per_calib": ingest_rows_per_calib,
                "detail": "BENCH_DETAIL.json",
            }
        )
    )
    return 0


def slot_calib(calib_samples: list, i: int) -> float:
    """Local calibration for suite slot i: the median of the 4-probe
    window around the slot boundary pair (probes i-1..i+2; query i sits
    between probes i and i+1), re-widened to 4 samples at the suite
    edges. See the normalization rationale at the call site —
    tests/test_bench_contract.py pins this against the r10 driver data
    where run-median normalization falsely breached slots 1-3."""
    import statistics

    lo = max(0, i - 1)
    hi = min(len(calib_samples), i + 3)
    window = calib_samples[lo:hi]
    while len(window) < 4 and (lo > 0 or hi < len(calib_samples)):
        if lo > 0:
            lo -= 1
        elif hi < len(calib_samples):
            hi += 1
        window = calib_samples[lo:hi]
    return statistics.median(window)


def _ingest_throughput_isolated() -> tuple[float, float]:
    """Run the ingest benchmark in its own JVM; return (rows/s, rows
    per calib-second). The raw rows/s figure swings 2-3x across rounds
    on identical code (driver r9 676k vs r10 255k — VERDICT r10 item 4)
    because the whole subprocess inherits whatever neighborhood it
    lands in; the subprocess therefore also runs the same calibration
    probe the query suite uses, and rows_per_calib = rps x calib_sec is
    the machine-drift-proof number to compare round-over-round (exactly
    the queries_normalized treatment, inverted for a throughput)."""
    import subprocess

    try:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--ingest-only"],
            capture_output=True,
            text=True,
            timeout=600,
        )
        rps = calib = -1.0
        for line in out.stdout.strip().splitlines():
            if line.startswith("INGEST_RPS="):
                rps = float(line.split("=", 1)[1])
            elif line.startswith("INGEST_CALIB="):
                calib = float(line.split("=", 1)[1])
        if rps > 0 and calib > 0:
            return rps, round(rps * calib, 1)
        return rps, -1.0
    except Exception:
        pass
    return -1.0, -1.0


def _ingest_throughput(spark, n_rows: int = 1_000_000, limit: int = 1000) -> float:
    """Paginated-source ingestion throughput (rows/s), the reference's
    own headline metric: its loop is capped at ~3,333 rows/s by design
    (1,000-row pages / 0.3 s sleep, BASELINE.md). Same page size, no
    artificial sleep, pages fanned out over the local cores — the
    apples-to-apples 'what does the distributed source sustain' number."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from agri_market_data_pipeline_spark.sources.paginated_api import (
        read_paginated_api,
    )

    schema = StructType(
        [StructField("id", LongType()), StructField("v", StringType())]
    )

    def fetch(offset: int, limit_: int) -> list[dict]:
        return [
            {"id": i, "v": f"row-{i}"} for i in range(offset, offset + limit_)
        ]

    t0 = time.time()
    records, _ = read_paginated_api(
        spark,
        fetch,
        max_offset=n_rows,
        limit=limit,
        schema=schema,
        num_partitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        pace=0.0,
        throttle_s=0.0,
    )
    n = records.count()
    dt = time.time() - t0
    assert n == n_rows, (n, n_rows)
    return round(n / dt, 1)


if __name__ == "__main__":
    if "--ingest-only" in sys.argv:
        _spark = get_spark("bench-ingest")
        _spark.sparkContext.setLogLevel("ERROR")
        _spark.range(1).count()
        _ingest_throughput(_spark, n_rows=64_000)  # warm the worker pool
        observe.calib_run(_spark)  # probe plan-shape warm-up
        # Median of 3 full passes: a single 1M-row pass is only a few
        # seconds, short enough that one GC pause or page-cache miss
        # swings the number 2-3× (r1 435k vs r2 74k was mostly this).
        # A calibration probe brackets each pass so the reported number
        # can be neighborhood-normalized by the parent (VERDICT r10
        # item 4: 255k vs 676k rows/s across rounds on identical code).
        _rps: list[float] = []
        _cal: list[float] = [observe.calib_run(_spark)]
        for _ in range(3):
            _rps.append(_ingest_throughput(_spark))
            _cal.append(observe.calib_run(_spark))
        print(f"INGEST_RPS={statistics.median(_rps)}")
        print(f"INGEST_CALIB={round(statistics.median(_cal), 4)}")
        raise SystemExit(0)
    raise SystemExit(main())
