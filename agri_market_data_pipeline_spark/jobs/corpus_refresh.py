"""End-to-end corpus-refresh job — the recurring ingest cycle a live
training corpus runs on every crawl drop, chaining the incremental
operators into one DAG:

1. split            — the arriving batch vs the already-indexed corpus
                      (hash split, stands in for the feed)
2. novelty triage   — per-doc fraction of 3-gram shingles unseen in
                      the corpus index (text_ngram_novelty's probe);
                      batches below the floor are mostly recrawl and
                      dropped before any expensive stage
3. incremental dedup— surviving docs probe the corpus md5 + LSH band
                      index (dedup_incremental's shape): exact dups
                      and near-dups dropped, cost ∝ |batch|
4. mixture budgets  — temperature-scaled per-language targets over the
                      grown corpus (mix_temperature), enforced on the
                      accepted batch per language
5. versioned publish— the accepted slice lands as a NEW snapshot
                      version via SnapshotStore (atomic manifest
                      repoint; crash-safe, time-travelable)

Every stage is declarative DataFrame work over batch-sized frames —
the corpus index is probed, never rescanned — so the job's per-cycle
cost is ∝ |batch| and the same code runs on a cluster. The run report
carries each stage's counts for reconciliation (obs_observe_metrics'
argument, applied to the whole job).

    python -m agri_market_data_pipeline_spark.jobs.corpus_refresh \\
        /tmp/refresh [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import shingles3
from ..sources.snapshots import SnapshotStore
from ..tables import load_parallel

# batch = doc_id % MOD == REM, aligned with dedup_incremental's framing
_MOD = 7
_REM = 3
_NOVELTY_FLOOR = 0.05  # batches under 5% novel shingles are recrawl
_TAU = 0.7
_BUDGET_K = 200  # per-cycle acceptance budget (docs)


def refresh(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    *,
    novelty_floor: float = _NOVELTY_FLOOR,
    budget_k: int = _BUDGET_K,
) -> dict:
    """Run one refresh cycle; returns the per-stage audit report."""
    d = load_parallel(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % _MOD == _REM

    # 1. split (the batch stands in for the arriving crawl drop)
    batch = d.filter(is_batch)
    corpus = d.filter(~is_batch)
    n_batch = batch.count()

    # 2. novelty triage: batch shingles anti-probe the corpus index
    sh = d.select(
        "doc_id", F.explode(shingles3("text")).alias("shingle")
    ).distinct()
    b_sh = sh.filter(is_batch)
    c_sh = sh.filter(~is_batch).select("shingle").distinct()
    novelty = (
        b_sh.join(c_sh.withColumn("seen", F.lit(1)), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id", (F.col("n_novel") / F.col("n_grams")).alias("novelty")
        )
    )
    fresh = batch.join(
        novelty.filter(F.col("novelty") >= novelty_floor).select("doc_id"),
        "doc_id",
        "leftsemi",
    )
    n_fresh = fresh.count()

    # 3. incremental dedup: md5 probe (exact), band probe (near)
    hx = d.select("doc_id", F.md5("text").alias("h"))
    corpus_h = hx.filter(~is_batch).select("h").distinct()
    batch_h = hx.join(fresh.select("doc_id"), "doc_id", "leftsemi")
    first = batch_h.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    exact_kept = batch_h.join(first, ["h", "doc_id"], "leftsemi").join(
        corpus_h, "h", "leftanti"
    )
    from ..operators.dedup import _minhash_bands

    bands = _minhash_bands(spark, sf_dir)
    c_bands = bands.filter(~is_batch).select("band", "band_key").distinct()
    near_hit = (
        bands.join(exact_kept.select("doc_id"), "doc_id", "leftsemi")
        .join(c_bands, ["band", "band_key"], "leftsemi")
        .select("doc_id")
        .distinct()
    )
    deduped = exact_kept.join(near_hit, "doc_id", "leftanti").select("doc_id")
    n_deduped = deduped.count()

    # 4. temperature budgets over the grown corpus, enforced per lang
    counts = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    powed = counts.withColumn("p", F.pow("n_docs", F.lit(_TAU)))
    tot = powed.agg(F.sum("p").alias("sp"))
    budgets = powed.join(F.broadcast(tot)).select(
        "lang",
        F.floor(F.lit(budget_k) * F.round(F.col("p") / F.col("sp"), 6))
        .cast("long")
        .alias("budget"),
    )
    w = F.md5(F.col("doc_id").cast("string"))
    accepted = (
        batch.join(deduped, "doc_id", "leftsemi")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(w, "doc_id")
            ),
        )
        .join(F.broadcast(budgets), "lang")
        .filter(F.col("rn") <= F.col("budget"))
        .select("doc_id", "lang", "text", "source", "n_chars")
    )
    n_accepted = accepted.count()

    # 5. crash-safe versioned publish
    store = SnapshotStore(store_dir)
    version = store.publish(accepted)

    report = {
        "n_batch": n_batch,
        "n_fresh": n_fresh,
        "n_deduped": n_deduped,
        "n_accepted": n_accepted,
        "snapshot_version": version,
    }
    with open(os.path.join(store_dir, f"report_v{version}.json"), "w") as fh:
        json.dump(report, fh)
    return report


def main() -> int:
    from ..session import get_spark

    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/refresh"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = get_spark("corpus-refresh")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(refresh(spark, sf_dir, out)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
