"""Scan operators (SURVEY.md §2.B: scan_parquet, scan_jsonl; scan_csv in
csv_compat.py because it needs a materialized CSV mirror).

The reference's only scan is a paginated REST source (fetch_data.py:64-114)
plus implicit per-commodity CSV reads (SURVEY.md §3 entry point 3). Here
scans are declarative reads where Catalyst pushes filters and prunes
columns down to the parquet footer — `.explain` shows PushedFilters and a
pruned ReadSchema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dsum, sql_dsum
from ..memo import pin
from ..registry import query
from ..tables import load, load_parallel, mirror


@query(
    "scan_parquet",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS cnt,
       {sql_dsum("l_quantity")} AS sum_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-01-01'
GROUP BY l_returnflag
""",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with predicate + projection pushdown.

    The WHERE on l_shipdate reaches the parquet scan as a PushedFilter and
    ReadSchema carries only the 3 referenced columns — at 100 TB this is
    the difference between scanning the table and scanning ~3 columns of
    the matching row groups.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"), dsum("l_quantity").alias("sum_qty"))
    )


@query(
    "scan_jsonl",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS cnt,
       {sql_dsum("CAST(json_extract_string(props, '$.k') AS INT)")} AS sum_k
FROM events
GROUP BY event_type
""",
)
def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON field access (`events.props` is a JSON string column,
    the stand-in for the reference API's raw JSON records,
    fetch_data.py:80). `get_json_object` stays JVM-side (codegen'd), no
    Python round trip."""
    ev = load_parallel(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"), dsum("k").alias("sum_k"))
    )


@query(
    "scan_binary_files",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5
FROM documents
-- Spark's binaryFile source silently DROPS zero-byte files (measured:
-- a 0-byte .bin never reaches the scan) — the oracle mirrors the
-- source's real contract so an empty asset reads as absent on both
-- engines (degencheck's empty-text document)
WHERE octet_length(encode(text)) > 0
""",
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-file ingestion — Spark's `binaryFile` source, the real
    entry path for image/audio corpora (one file per asset, content as
    an opaque BINARY column + path/length metadata). The corpus is
    first materialized to doc_<id>.bin files from documents.text, then
    scanned back through the format; id parsed from the path, content
    md5'd — hash-matching the source table proves the round trip loses
    nothing (sink_partitioned_append's argument, pointed at blobs).

    At 100 TB: binaryFile splits per FILE (assets are indivisible), so
    parallelism = file count and small-file pressure is real — pair
    with sink_compact_files-style packing (many assets per parquet row
    group via multimodal_metadata's layout) once assets are ingested."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from ..tables import table_path

    blob_dir = tempfile.mkdtemp(prefix="blobs_")
    try:
        tbl = pq.read_table(table_path(sf_dir, "documents"), columns=["doc_id", "text"])
        for doc_id, text in zip(
            tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()
        ):
            with open(os.path.join(blob_dir, f"doc_{doc_id}.bin"), "wb") as fh:
                fh.write(text.encode("utf-8"))
        scanned = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bin")
            .load(blob_dir)
            .select(
                F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1)
                .cast("long")
                .alias("doc_id"),
                F.col("length").alias("n_bytes"),
                F.md5("content").alias("content_md5"),
            )
        )
        # materialize before deleting the backing files (lazy scan)
        return pin(scanned)
    finally:
        shutil.rmtree(blob_dir, ignore_errors=True)


@query(
    "scan_schema_evolution",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_rows,
       CAST(COUNT(o_totalprice) AS BIGINT) AS n_with_price
FROM (
  SELECT o_orderpriority, NULL AS o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderpriority, o_totalprice
  FROM orders WHERE o_orderkey % 2 = 1
)
GROUP BY o_orderpriority
""",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across append snapshots — the drift every
    long-lived append layout accumulates (the reference appends CSVs for
    years; a column added upstream lands mid-history): snapshot 1 is
    written WITHOUT o_totalprice, snapshot 2 WITH it, and one
    mergeSchema read unions the physical schemas, nulling the column
    where a file predates it. The round trip is hash-checked: the
    read-back aggregate must equal the oracle's recompute from the
    source table, proving no row lost and the missing column surfacing
    as NULL (count(col) skips exactly the old-snapshot rows).

    At 100 TB schema evolution is a METADATA property — each parquet
    footer carries its own schema and the union is computed from
    footers, not by rewriting data; the read stays parallel and
    pruned. (Table formats move the union into the transaction log —
    same semantics, cheaper footer sweep.)"""
    import tempfile

    o = load(spark, sf_dir, "orders")
    with tempfile.TemporaryDirectory(prefix="schema_evo_") as d:
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_orderpriority"
        ).write.mode("overwrite").parquet(os.path.join(d, "snap=1"))
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        ).write.mode("overwrite").parquet(os.path.join(d, "snap=2"))
        merged = spark.read.option("mergeSchema", "true").parquet(
            os.path.join(d, "snap=1"), os.path.join(d, "snap=2")
        )
        # materialized BEFORE the tempdir vanishes
        return pin(
            merged.groupBy("o_orderpriority").agg(
                F.count("*").alias("n_rows"),
                F.count("o_totalprice").alias("n_with_price"),
            )
        )


def _xml_mirror(spark: SparkSession, sf_dir: str) -> str:
    """XML mirror of orders for the XML-scan operator, via
    tables.mirror — Spark 4's built-in XML source writes it distributed
    (one part-file per partition, each a well-formed document), the
    same layout a feed of per-page XML exports would land in."""

    def write(out: str) -> None:
        o = load(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderpriority",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        o.write.mode("overwrite").format("xml").option("rowTag", "order").save(out)

    return mirror(spark, sf_dir, "xml", ("orders",), write)


@query(
    "scan_xml",
    oracle=f"""
SELECT o_orderpriority,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
       COUNT(*) AS cnt,
       {sql_dsum("o_totalprice")} AS sum_price
FROM orders
GROUP BY 1, 2
""",
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema'd scan of Spark 4's built-in XML source (rowTag streaming
    parse — no third-party package). The oracle reads the parquet
    original: matching proves the XML round trip (shortest-repr
    doubles, ISO dates, element-per-column shredding) is lossless.
    The explicit schema matters doubly here: XML inference is a full
    extra pass over the files, and at 100 TB a schema'd read is the
    difference between one scan and two. Row-group-style pushdown
    doesn't exist for XML — the scale posture is to land XML feeds
    once, convert to parquet/Delta immediately (sink_partitioned_
    append), and keep XML only at the ingest edge."""
    path = _xml_mirror(spark, sf_dir)
    schema = (
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderpriority string, o_orderdate date"
    )
    df = (
        spark.read.schema(schema)
        .format("xml")
        .option("rowTag", "order")
        .load(path)
    )
    return df.groupBy(
        "o_orderpriority",
        F.year("o_orderdate").cast("int").alias("order_year"),
    ).agg(
        F.count("*").alias("cnt"),
        dsum("o_totalprice").alias("sum_price"),
    )
