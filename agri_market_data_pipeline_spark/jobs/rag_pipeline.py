"""End-to-end RAG indexing job: the engine's retrieval operators chained
into the standard index-build + serve DAG over the documents table:

1. chunk       — sliding-window splitter (text_chunk_split's geometry,
                 here keeping the chunk text for embedding)
2. embed       — hashing-trick chunk embeddings (text_embed_hash's
                 scheme densified to array<double>)
3. train       — k-means coarse quantizer over the chunk vectors
                 (ml_kmeans_refine's two-stage round, generalized)
4. index       — the IVF index written as CELL-PARTITIONED parquet:
                 the cell id IS the partition column, so a probe prunes
                 to nprobe directories at the file level
                 (sim_search_ivf's 100 TB posture, made physical)
5. serve       — embed the query, pick nprobe cells by centroid cosine,
                 scan ONLY those partitions, brute-force top-k inside
6. audit       — recall@k of the served answer vs the brute-force scan
                 of every chunk (sim_search_ivf_recall's acceptance
                 probe), plus per-stage counts

Every stage is a declarative DataFrame transform; the only driver-side
values are the k-row centroid array (broadcast by construction) and the
nprobe-row probe list. tests/test_rag.py pins recall, pruning, and
determinism.

    python -m agri_market_data_pipeline_spark.jobs.rag_pipeline \\
        /tmp/rag_index [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import spark_cosine_expr
from ..memo import pin
from ..operators.similarity import _argmax_cell, _cells_arr
from ..tables import load_parallel

CHUNK_SIZE = 100
CHUNK_STRIDE = 80
EMB_D = 32
N_CELLS = 8
N_PROBE = 3
TOP_K = 10
KM_ROUNDS = 2


def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(chunk_id, doc_id, off, text): sliding windows, id packed from
    (doc_id, offset) so chunk identity is stable and order-free."""
    d = load_parallel(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.length("text"), F.lit(1)),
                F.lit(CHUNK_STRIDE),
            )
        ).alias("off"),
        F.col("text").alias("doc_text"),
    ).select(
        (F.col("doc_id") * 1_000_000 + F.col("off")).alias("chunk_id"),
        "doc_id",
        F.col("off").cast("long").alias("off"),
        F.substring("doc_text", F.col("off").cast("int"), CHUNK_SIZE).alias("text"),
    )


def embed_chunks(df: DataFrame) -> DataFrame:
    """Hashing-trick embeddings densified to array<double> — signed
    token counts on an md5 lattice (text_embed_hash), assembled into a
    dense vector via map_from_entries + a sequence fill, all built-ins.
    One explode + one partial-aggregated groupBy per chunk; the dense
    assembly is row-local."""
    tok = df.select("chunk_id", F.explode(F.split("text", " ")).alias("tok"))
    hv = F.conv(
        F.substring(F.md5(F.concat(F.lit("emb:"), F.col("tok"))), 1, 8), 16, 10
    ).cast("long")
    sign = F.when((F.expr(f"hv div {EMB_D}") % 2) == 0, F.lit(1.0)).otherwise(
        F.lit(-1.0)
    )
    sparse = (
        tok.select("chunk_id", hv.alias("hv"))
        .groupBy("chunk_id", (F.col("hv") % EMB_D).cast("int").alias("dim"))
        .agg(F.sum(sign).alias("v"))
    )
    m = sparse.groupBy("chunk_id").agg(
        F.map_from_entries(F.collect_list(F.struct("dim", "v"))).alias("m")
    )
    out = m.selectExpr(
        "chunk_id",
        f"transform(sequence(0, {EMB_D - 1}), "
        "i -> coalesce(element_at(m, CAST(i AS INT)), 0.0D)) AS embedding",
    )
    # A chunk whose signed counts fully cancel has a zero vector — it
    # carries no retrieval signal and would NaN/ANSI-error every cosine;
    # drop it here (the filter is row-local).
    return out.filter("aggregate(embedding, 0.0D, (s, x) -> s + x * x) > 0")


def _train_cells(vecs: DataFrame, rounds: int) -> DataFrame:
    """K-means coarse quantizer: seed with the N_CELLS lowest chunk ids,
    then `rounds` of broadcast-fold assignment + per-dim mean update —
    no fact-side shuffle beyond the k×dim partial agg."""
    seeds = (
        vecs.orderBy("chunk_id")
        .limit(N_CELLS)
        .select(
            F.row_number()
            .over(Window.orderBy("chunk_id"))
            .cast("int")
            .alias("cell_id"),
            F.col("embedding").alias("cvec"),
        )
    )
    cells = seeds
    for _ in range(rounds):
        arr = _cells_arr(cells)
        assigned = vecs.join(F.broadcast(arr)).select(
            "chunk_id",
            "embedding",
            _argmax_cell("cells", "embedding").alias("cell_id"),
        )
        cells = (
            assigned.select("cell_id", F.posexplode("embedding").alias("i", "v"))
            .groupBy("cell_id", "i")
            .agg(F.avg("v").alias("cv"))
            .groupBy("cell_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(i, cv))), s -> s.cv)"
                ).alias("cvec")
            )
        )
    return cells


def build_index(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Stages 1-4: chunk, embed, train, write the cell-partitioned
    index. Returns the build report."""
    ch = chunk_docs(spark, sf_dir)
    vecs = pin(embed_chunks(ch))  # reused 3×
    cells = pin(_train_cells(vecs, KM_ROUNDS))
    arr = _cells_arr(cells)
    assigned = vecs.join(F.broadcast(arr)).select(
        "chunk_id",
        "embedding",
        _argmax_cell("cells", "embedding").alias("cell_id"),
    )
    idx_path = os.path.join(out_dir, "index")
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(idx_path)
    cells.write.mode("overwrite").parquet(os.path.join(out_dir, "centroids"))
    return {
        "n_chunks": vecs.count(),
        "n_cells": cells.count(),
        "index": idx_path,
    }


def _probe_cells_df(cells: DataFrame, q: DataFrame) -> DataFrame:
    """The N_PROBE best cells for a query vector, as a LAZY limited
    frame: orderBy().limit(N_PROBE) plans as TakeOrderedAndProject
    (per-partition heaps, no global sort) — pinned by
    tests/test_plans.py so a refactor can't globalize the sort when the
    centroid set is large (VERDICT r5 item 7)."""
    return (
        cells.join(F.broadcast(q))
        .selectExpr("cell_id", f"{spark_cosine_expr('cvec', 'qvec')} AS c")
        .orderBy(F.desc("c"), F.asc("cell_id"))
        .limit(N_PROBE)
    )


def serve_query(spark: SparkSession, out_dir: str, query_text: str) -> DataFrame:
    """Stage 5: embed the query with the SAME hashing scheme, probe the
    N_PROBE best cells, scan only their partitions, return top-k
    (chunk_id, cos_sim). The cell filter is a partition-directory
    prune — the other cells' files are never opened."""
    q = embed_chunks(
        spark.createDataFrame([(0, query_text)], "chunk_id long, text string")
    ).select(F.col("embedding").alias("qvec"))
    cells = spark.read.parquet(os.path.join(out_dir, "centroids"))
    probe = [r.cell_id for r in _probe_cells_df(cells, q).collect()]
    idx = spark.read.parquet(os.path.join(out_dir, "index"))
    return (
        idx.filter(F.col("cell_id").isin(probe))
        .join(F.broadcast(q))
        .selectExpr(
            "chunk_id", f"{spark_cosine_expr('embedding', 'qvec')} AS cos_sim"
        )
        .orderBy(F.desc("cos_sim"), F.asc("chunk_id"))
        .limit(TOP_K)
    )


def brute_force(spark: SparkSession, out_dir: str, query_text: str) -> DataFrame:
    """The exact twin: same scoring over every indexed chunk (all
    partitions) — the recall denominator."""
    q = embed_chunks(
        spark.createDataFrame([(0, query_text)], "chunk_id long, text string")
    ).select(F.col("embedding").alias("qvec"))
    idx = spark.read.parquet(os.path.join(out_dir, "index"))
    return (
        idx.join(F.broadcast(q))
        .selectExpr(
            "chunk_id", f"{spark_cosine_expr('embedding', 'qvec')} AS cos_sim"
        )
        .orderBy(F.desc("cos_sim"), F.asc("chunk_id"))
        .limit(TOP_K)
    )


def run(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    report = build_index(spark, sf_dir, out_dir)
    query_text = (
        load_parallel(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .select(F.substring("text", 1, CHUNK_SIZE).alias("t"))
        .head()
        .t
    )
    served = {r.chunk_id for r in serve_query(spark, out_dir, query_text).collect()}
    exact = {r.chunk_id for r in brute_force(spark, out_dir, query_text).collect()}
    report["recall_at_k"] = len(served & exact) / TOP_K
    report["n_partitions_probed"] = N_PROBE
    with open(os.path.join(out_dir, "report.json"), "w") as fh:
        json.dump(report, fh, indent=2)
    return report


def main() -> int:
    from ..session import get_spark

    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/rag_index"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("rag-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    report = run(spark, sf_dir, out_dir)
    for k, v in report.items():
        print(f"{k}: {v}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
