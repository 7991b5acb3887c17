"""Write-time storage-layout operators (SURVEY.md §4.2.3 physical-layout
decisions; README "Scale design notes").

The reference's only layout decision is one CSV file per commodity
(`fetch_data.py:119-128` in /root/reference) — a hand-rolled hive
partitioning with no co-location, no pruning metadata, and unbounded
small-file growth (every 3-hour cron append adds a tail to 292 files).
These operators are the three write-time upgrades a 100 TB deployment
layers on top of that idea:

- `join_bucketed` — pay the shuffle ONCE at write time (`bucketBy` on
  the join key), then every subsequent fact×fact join runs shuffle-free;
- `scan_partition_pruned` — hive `partitionBy` + Catalyst partition
  pruning: a filtered read touches only matching directories;
- `sink_compact_files` — bounded-size compaction of a fragmented
  dataset (the reference's append pattern at scale) into ~target-size
  files, content-preserving.

Each is oracle-checked end-to-end: the physical write path runs for
real and the read-back result hash-matches DuckDB computing the same
answer from the original parquet.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..functions.exact import dsum, sql_dsum
from ..memo import pin
from ..registry import query
from ..tables import load, mirror

# ---------------------------------------------------------------------------
# Bucketed co-located join


_BUCKETED_CACHE: dict = {}
_N_BUCKETS = 8


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Materialize lineitem/orders bucketed+sorted by the join key, once
    per (application, sf_dir, lineitem and orders fingerprint) — a
    metadata memo (memo.cached), so a changed source is rewritten. At
    100 TB this is the nightly table-format job; buckets = shuffle
    partitions fixed at write time, so every later join/aggregate on
    the key is exchange-free."""
    tag = re.sub(r"[^A-Za-z0-9]+", "_", sf_dir.strip("/"))
    li_name, o_name = f"li_bkt_{tag}", f"o_bkt_{tag}"

    def build() -> None:
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
        # A prior process may have left the warehouse directory behind
        # without a catalog entry (in-memory catalog, durable files) —
        # clear both so overwrite can't hit LOCATION_ALREADY_EXISTS.
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for name in (li_name, o_name):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            stale = os.path.join(warehouse, name)
            if os.path.isdir(stale):
                shutil.rmtree(stale)
        (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_quantity", "l_extendedprice")
            .write.bucketBy(_N_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .mode("overwrite")
            .saveAsTable(li_name)
        )
        (
            load(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority")
            .write.bucketBy(_N_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("overwrite")
            .saveAsTable(o_name)
        )

    memo.cached(_BUCKETED_CACHE, spark, sf_dir, ("lineitem", "orders"), build)
    return spark.table(li_name), spark.table(o_name)


@query(
    "join_bucketed",
    oracle=f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       {sql_dsum("l.l_extendedprice")} AS sum_price
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large×large equi-join over write-time-bucketed tables: both sides
    are stored pre-hashed into the same number of buckets on the join
    key, so the sort-merge join reads co-located buckets directly — NO
    Exchange on either join key (asserted in tests/test_bucketing.py).
    This is join_shuffle_equi's scale upgrade: at 100 TB the shuffle of
    the full fact table moves from every query to one write-time job.

    Broadcast is scoped off (at testdata scale Spark would broadcast the
    small side and the bucketed path would never be exercised; at
    production scale neither side is broadcastable). Per the
    hostile-session rule the plan is materialized inside the scoped
    block and the conf restored."""
    li, o = bucketed_tables(spark, sf_dir)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_lines"),
                dsum("l_extendedprice").alias("sum_price"),
            )
        )
        j._jdf.queryExecution().executedPlan()  # plan under scoped conf
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return j


# ---------------------------------------------------------------------------
# Partition-pruned scan


def partitioned_mirror(spark: SparkSession, sf_dir: str) -> str:
    """Hive-partitioned parquet mirror of lineitem (partition key
    l_returnflag), via tables.mirror. The reference's per-commodity CSV
    layout formalized: `.../l_returnflag=R/part-*.parquet`."""

    def write(out: str) -> None:
        (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_quantity", "l_extendedprice",
                    "l_shipdate", "l_returnflag")
            .write.mode("overwrite")
            .partitionBy("l_returnflag")
            .parquet(out)
        )

    return mirror(spark, sf_dir, "part", ("lineitem",), write)


@query(
    "scan_partition_pruned",
    oracle=f"""
SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ship_year,
       COUNT(*) AS n_lines,
       {sql_dsum("l_extendedprice")} AS sum_price
FROM lineitem
WHERE l_returnflag = 'R'
GROUP BY ship_year
""",
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan: the filter on the partition key resolves
    against directory metadata, so only `l_returnflag=R/` is listed and
    read — the other partitions are never opened (PartitionFilters in
    the plan; asserted in tests/test_storage_layout.py). This is the
    reference's open-one-commodity-file read path
    (/root/reference/fetch_data.py:119-121 layout) done by the planner
    instead of by hand; at 100 TB pruning is the first 10-100×."""
    df = spark.read.parquet(partitioned_mirror(spark, sf_dir))
    return (
        df.filter(F.col("l_returnflag") == "R")
        .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            F.count("*").alias("n_lines"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Small-file compaction


_COMPACT_ROWS_PER_FILE = 200_000


def compacted_dataset(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(fragmented_dir, compacted_dir) under one tables.mirror: write
    lineitem fragmented into 64 shards (the reference's every-3-hours
    append, years of cron runs deep), then compact by range-repartitioning
    on the sort key with maxRecordsPerFile bounding file size. Range
    partitioning keeps the compacted files key-clustered, so min/max
    row-group stats stay selective — compaction that hash-shuffled would
    destroy them."""
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]

    def write(base: str) -> None:
        frag, comp = os.path.join(base, "fragmented"), os.path.join(base, "compacted")
        load(spark, sf_dir, "lineitem").select(cols).repartition(64).write.mode(
            "overwrite"
        ).parquet(frag)
        df = spark.read.parquet(frag)
        n_rows = df.count()
        n_parts = max(1, -(-n_rows // _COMPACT_ROWS_PER_FILE))
        (
            df.repartitionByRange(n_parts, "l_orderkey", "l_linenumber")
            .sortWithinPartitions("l_orderkey", "l_linenumber")
            .write.option("maxRecordsPerFile", _COMPACT_ROWS_PER_FILE)
            .mode("overwrite")
            .parquet(comp)
        )

    base = mirror(spark, sf_dir, "compact", ("lineitem",), write)
    return os.path.join(base, "fragmented"), os.path.join(base, "compacted")


@query(
    "sink_compact_files",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       {sql_dsum("l_extendedprice")} AS sum_price,
       {sql_dsum("l_quantity")} AS sum_qty
FROM lineitem
""",
)
def sink_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction, content-preserving: read the fragmented
    dataset, rewrite it as few key-clustered files of bounded row count,
    and return the read-back fingerprint — which must hash-match DuckDB
    computing the same aggregate from the ORIGINAL table (nothing lost,
    nothing duplicated, exact sums). The file-count collapse and
    clustering are asserted in tests/test_storage_layout.py. At 100 TB
    this is the maintenance job that keeps scan cost ∝ data size rather
    than ∝ append count."""
    _, comp = compacted_dataset(spark, sf_dir)
    return spark.read.parquet(comp).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        dsum("l_extendedprice").alias("sum_price"),
        dsum("l_quantity").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Z-order clustering

_Z_BITS = 8  # per-dimension quantization for the interleave


def _sql_zvalue(qa: str, qb: str) -> str:
    """DuckDB twin of the bit interleave (qa in odd bits, qb in even)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({qa} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({qb} >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


def _zvalue(qa: F.Column, qb: F.Column) -> F.Column:
    z = F.lit(0)
    for i in range(_Z_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(qa, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(qb, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


@query(
    "sink_zorder_cluster",
    oracle=f"""
WITH mx AS (
  SELECT MAX(l_partkey) AS mp, MAX(l_suppkey) AS ms FROM lineitem
), q AS (
  SELECT CAST(FLOOR(l_partkey * {1 << _Z_BITS}.0 / (mp + 1)) AS BIGINT) AS qa,
         CAST(FLOOR(l_suppkey * {1 << _Z_BITS}.0 / (ms + 1)) AS BIGINT) AS qb,
         l_extendedprice
  FROM lineitem CROSS JOIN mx
), z AS (
  SELECT ({_sql_zvalue('qa', 'qb')}) AS zval, qa, qb, l_extendedprice FROM q
)
SELECT zval >> {2 * _Z_BITS - 6} AS z_cell,
       COUNT(*) AS n_rows,
       MIN(qa) AS qa_min, MAX(qa) AS qa_max,
       MIN(qb) AS qb_min, MAX(qb) AS qb_max,
       {sql_dsum("l_extendedprice")} AS sum_price
FROM z GROUP BY 1
""",
)
def sink_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering — multi-dimensional locality for scans that
    filter on EITHER of two keys: quantize (l_partkey, l_suppkey) to
    {_Z_BITS} bits each, interleave the bits into a z-value, range-
    partition + sort the write by it, and read back. Hive partitioning
    prunes on one column; a z-curve bounds BOTH dimensions within every
    contiguous run, so parquet row-group min/max stats prune two-sided
    predicates — Delta/Iceberg's OPTIMIZE ZORDER, built from plain
    column arithmetic. The physical write path runs for real; the
    oracle recomputes per-z-cell occupancy and the min/max rectangle of
    each top-6-bit cell from the source table, certifying the curve
    arithmetic AND the write's losslessness (counts + DECIMAL-exact
    price sums survive the round trip).

    At 100 TB the z-sort rides the exchange the write needs anyway
    (repartitionByRange on zval), so clustering is ~free at ingest and
    every later two-sided scan skips most row groups."""
    li = load(spark, sf_dir, "lineitem")
    mx = li.agg(
        F.max("l_partkey").alias("mp"), F.max("l_suppkey").alias("ms")
    )
    scale = float(1 << _Z_BITS)
    q = li.join(F.broadcast(mx)).select(
        F.floor(F.col("l_partkey") * scale / (F.col("mp") + 1))
        .cast("long")
        .alias("qa"),
        F.floor(F.col("l_suppkey") * scale / (F.col("ms") + 1))
        .cast("long")
        .alias("qb"),
        "l_extendedprice",
    )
    z = q.select(
        _zvalue(F.col("qa"), F.col("qb")).alias("zval"),
        "qa",
        "qb",
        "l_extendedprice",
    )
    with tempfile.TemporaryDirectory(prefix="zorder_") as d:
        path = os.path.join(d, "lineitem_z")
        (
            z.repartitionByRange(8, "zval")
            .sortWithinPartitions("zval")
            .write.mode("overwrite")
            .parquet(path)
        )
        back = spark.read.parquet(path)
        return pin(
            back.groupBy(
                F.shiftright("zval", 2 * _Z_BITS - 6).alias("z_cell")
            ).agg(
                F.count("*").alias("n_rows"),
                F.min("qa").alias("qa_min"),
                F.max("qa").alias("qa_max"),
                F.min("qb").alias("qb_min"),
                F.max("qb").alias("qb_max"),
                dsum("l_extendedprice").alias("sum_price"),
            )
        )


@query(
    "scan_dpp_pruned",
    oracle=f"""
SELECT l_returnflag AS flag,
       COUNT(*) AS n_lines,
       {sql_dsum("l_extendedprice")} AS sum_price
FROM lineitem
WHERE l_returnflag IN ('A', 'R')
GROUP BY 1
""",
)
def scan_dpp_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the fact filter is not a literal on
    the partition key (scan_partition_pruned's static case) but arrives
    through a join — the dimension is filtered on an attribute the fact
    doesn't have, and Catalyst turns the joined dim's key set into a
    runtime partition filter (`dynamicpruningexpression(l_returnflag IN
    dynamicpruning#N)` — asserted in tests/test_storage_layout.py). The
    'drop'-classed partition is never listed or read.

    This is THE star-schema scan pattern at 100 TB: date-dim filtered
    on fiscal attributes prunes the fact's date partitions at runtime,
    no manual predicate copying. The oracle states the post-prune
    semantics directly."""
    fact = spark.read.parquet(partitioned_mirror(spark, sf_dir))
    dim = spark.createDataFrame(
        [("A", "keep"), ("N", "drop"), ("R", "keep")], "flag string, cls string"
    )
    return (
        fact.join(
            dim.filter(F.col("cls") == "keep"),
            fact.l_returnflag == F.col("flag"),
        )
        .groupBy("flag")
        .agg(
            F.count("*").alias("n_lines"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Manifest-based file skipping (table-format planning, natively)


_MANIFEST_FILES = 8
_MAN_LO, _MAN_HI = 1000, 2999  # probe range: ~25% of the sf0.01 keyspace


def manifest_dataset(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(data_dir, manifest_dir): lineitem written as {_MANIFEST_FILES}
    range-clustered files plus a MANIFEST parquet carrying per-file
    (path, min_key, max_key, n_rows) — the file-level statistics layer
    every table format (Iceberg/Delta) maintains in its metadata tree,
    built here with one post-write scan grouped by input_file_name.
    Range clustering is what makes the stats selective: hash layout
    would give every file the full key range and no file would ever
    skip. One tables.mirror holds both directories."""

    def write(base: str) -> None:
        data, man = os.path.join(base, "data"), os.path.join(base, "manifest")
        (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
            .repartitionByRange(_MANIFEST_FILES, "l_orderkey", "l_linenumber")
            .sortWithinPartitions("l_orderkey", "l_linenumber")
            .write.mode("overwrite")
            .parquet(data)
        )
        (
            spark.read.parquet(data)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min("l_orderkey").alias("k_min"),
                F.max("l_orderkey").alias("k_max"),
                F.count("*").alias("n_rows"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(man)
        )

    base = mirror(spark, sf_dir, "manifest", ("lineitem",), write)
    return os.path.join(base, "data"), os.path.join(base, "manifest")


@query(
    "scan_manifest_skipped",
    oracle=f"""
SELECT COUNT(*) AS cnt,
       {sql_dsum("l_extendedprice")} AS sum_price,
       {sql_dsum("l_quantity")} AS sum_qty
FROM lineitem
WHERE l_orderkey BETWEEN {_MAN_LO} AND {_MAN_HI}
""",
)
def scan_manifest_skipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-driven file skipping — Iceberg/Delta's planning step
    done natively: the range predicate is first resolved against the
    per-file min/max manifest (a few rows, read on the driver exactly
    the way a table format's planner reads its metadata tree), and only
    the overlapping files are handed to the scan. The data files are
    never listed, let alone opened, for the skipped ranges —
    tests/test_storage_layout.py asserts files_read < files_total and
    result equality with the full-scan plan.

    This is the layer above row-group stats (sink_compact_files' note):
    at 100 TB the manifest prunes ~all of a petabyte-scale file list
    driver-side in milliseconds, then parquet row-group stats prune
    within the surviving files. The driver-side collect is the
    manifest, bounded by file count — metadata, not data."""
    data, man = manifest_dataset(spark, sf_dir)
    m = spark.read.parquet(man).filter(
        ~((F.col("k_max") < _MAN_LO) | (F.col("k_min") > _MAN_HI))
    )
    files = [r.f for r in m.select("f").collect()]
    pred = F.col("l_orderkey").between(_MAN_LO, _MAN_HI)
    src = (
        spark.read.parquet(*files)
        if files
        else spark.read.parquet(data).filter(F.lit(False))
    )
    return src.filter(pred).agg(
        F.count("*").alias("cnt"),
        dsum("l_extendedprice").alias("sum_price"),
        dsum("l_quantity").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Z-order layout audit: measured file-skipping for 2-d predicates

_Z_FILES = 64  # files per layout; zorder file = zval >> _Z_FILE_SHIFT
_Z_FILE_SHIFT = 2 * _Z_BITS - 6  # 64 files = top 6 z-value bits
_Z_BOXES = [(0, 0), (3, 3), (6, 6), (1, 5)]  # query boxes, eighths, w=2


def _z_boxes_rows() -> str:
    """(qid, i, j) literal rows for the query boxes."""
    return ", ".join(
        f"({q}, {i}, {j})" for q, (i, j) in enumerate(_Z_BOXES)
    )


@query(
    "layout_zorder_skipping",
    oracle=f"""
WITH mx AS (
  SELECT MAX(l_partkey) AS mp, MAX(l_suppkey) AS ms FROM lineitem),
base AS (
  SELECT l.l_partkey AS p, l.l_suppkey AS s, l.l_orderkey AS o,
         (l.l_partkey * {1 << _Z_BITS}) // (mx.mp + 1) AS xq,
         (l.l_suppkey * {1 << _Z_BITS}) // (mx.ms + 1) AS yq
  FROM lineitem l CROSS JOIN mx),
tagged AS (
  SELECT 'zorder' AS layout,
         ({_sql_zvalue('yq', 'xq')}) >> {_Z_FILE_SHIFT} AS file_id,
         p, s FROM base
  UNION ALL
  SELECT 'linear', (p * {_Z_FILES}) // (mx.mp + 1), p, s
  FROM base CROSS JOIN mx
  UNION ALL
  SELECT 'unclustered', o % {_Z_FILES}, p, s FROM base),
files AS (
  SELECT layout, file_id,
         MIN(p) AS min_p, MAX(p) AS max_p,
         MIN(s) AS min_s, MAX(s) AS max_s,
         COUNT(*) AS n_rows
  FROM tagged GROUP BY layout, file_id),
boxes AS (
  SELECT q.qid,
         ((mx.mp + 1) * q.i) // 8 AS lo_p,
         ((mx.mp + 1) * (q.i + 2)) // 8 - 1 AS hi_p,
         ((mx.ms + 1) * q.j) // 8 AS lo_s,
         ((mx.ms + 1) * (q.j + 2)) // 8 - 1 AS hi_s
  FROM (VALUES {_z_boxes_rows()}) q(qid, i, j) CROSS JOIN mx)
SELECT f.layout, CAST(b.qid AS BIGINT) AS qid,
       CAST(COUNT(*) FILTER (WHERE b.lo_p <= f.max_p AND b.hi_p >= f.min_p
                               AND b.lo_s <= f.max_s AND b.hi_s >= f.min_s)
            AS BIGINT) AS files_scanned,
       CAST(COALESCE(SUM(f.n_rows) FILTER (WHERE b.lo_p <= f.max_p
                               AND b.hi_p >= f.min_p
                               AND b.lo_s <= f.max_s AND b.hi_s >= f.min_s),
                     0) AS BIGINT) AS rows_scanned,
       CAST(COUNT(*) AS BIGINT) AS n_files
FROM files f CROSS JOIN boxes b
GROUP BY f.layout, b.qid
""",
)
def layout_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering, measured: interleave the bits of the two
    quantized predicate keys (l_partkey, l_suppkey) into a 16-bit
    z-value, range-bucket it into {_Z_FILES} files, and score the
    layout by the ONLY metric that matters at 100 TB — how many files'
    (min, max) zone maps a 2-d box predicate must touch — against a
    1-d sort (prunes partkey, powerless on suppkey) and an unclustered
    layout (prunes nothing). Emits (layout, qid, files_scanned,
    rows_scanned, n_files) per query box, fully oracle-checked.

    The z-curve is what Delta/Iceberg OPTIMIZE ZORDER computes; here
    it is ~20 codegen'd bit ops, no UDF. File assignment is a
    VALUE-range bucket of the z-value — deliberately NOT an NTILE
    over a global ORDER BY (a single-partition window sort is the
    classic scale anti-pattern): at 100 TB the write path is
    repartitionByRange(zval) with sampled boundaries, and this audit's
    bucket boundaries are the idealized uniform equivalent. One scan,
    one {3 * _Z_FILES}-group shuffle for the zone maps, broadcast of
    {len(_Z_BOXES)} box rows — audit cost is O(scan), zero wide
    stages."""
    li = load(spark, sf_dir, "lineitem")
    mx = li.agg(
        F.max("l_partkey").alias("mp"), F.max("l_suppkey").alias("ms")
    )
    base = li.join(F.broadcast(mx)).select(
        F.col("l_partkey").alias("p"),
        F.col("l_suppkey").alias("s"),
        F.col("l_orderkey").alias("o"),
        F.expr(f"(l_partkey * {1 << _Z_BITS}) div (mp + 1)").alias("xq"),
        F.expr(f"(l_suppkey * {1 << _Z_BITS}) div (ms + 1)").alias("yq"),
        F.col("mp"),
        F.col("ms"),
    )
    zfile = F.shiftright(_zvalue(F.col("yq"), F.col("xq")), _Z_FILE_SHIFT)
    lfile = F.expr(f"(p * {_Z_FILES}) div (mp + 1)")
    ufile = F.col("o") % _Z_FILES
    tagged = base.select(
        "p",
        "s",
        F.explode(
            F.array(
                F.struct(F.lit("zorder").alias("layout"), zfile.cast("long").alias("file_id")),
                F.struct(F.lit("linear").alias("layout"), lfile.cast("long").alias("file_id")),
                F.struct(F.lit("unclustered").alias("layout"), ufile.cast("long").alias("file_id")),
            )
        ).alias("lf"),
    ).select("p", "s", F.col("lf.layout").alias("layout"), F.col("lf.file_id").alias("file_id"))
    files = tagged.groupBy("layout", "file_id").agg(
        F.min("p").alias("min_p"),
        F.max("p").alias("max_p"),
        F.min("s").alias("min_s"),
        F.max("s").alias("max_s"),
        F.count("*").alias("n_rows"),
    )
    boxes = mx.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("qid"),
                        F.expr(f"((mp + 1) * {i}) div 8").alias("lo_p"),
                        F.expr(f"((mp + 1) * {i + 2}) div 8 - 1").alias(
                            "hi_p"
                        ),
                        F.expr(f"((ms + 1) * {j}) div 8").alias("lo_s"),
                        F.expr(f"((ms + 1) * {j + 2}) div 8 - 1").alias(
                            "hi_s"
                        ),
                    )
                    for q, (i, j) in enumerate(_Z_BOXES)
                ]
            )
        ).alias("b")
    ).select("b.*")
    hit = (
        (F.col("lo_p") <= F.col("max_p"))
        & (F.col("hi_p") >= F.col("min_p"))
        & (F.col("lo_s") <= F.col("max_s"))
        & (F.col("hi_s") >= F.col("min_s"))
    )
    return (
        files.join(F.broadcast(boxes))
        .groupBy("layout", F.col("qid").cast("long").alias("qid"))
        .agg(
            F.sum(hit.cast("long")).cast("long").alias("files_scanned"),
            F.sum(F.when(hit, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
            F.count("*").cast("long").alias("n_files"),
        )
    )


# ---------------------------------------------------------------------------
# Partition-column advisor (layout planning from one profiling scan)

_ADV_COLS = ("o_orderstatus", "o_orderpriority", "o_orderdate", "o_custkey", "o_orderkey")
_ADV_MIN_PARTS = 4  # fewer values than this → partitioning buys no pruning
_ADV_MAX_PARTS = 1000  # more than this → small-file explosion; bucket instead


def _advisor_sql() -> str:
    sels = []
    for c in _ADV_COLS:
        sels.append(f"""
SELECT '{c}' AS col,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) / CAST(COUNT(DISTINCT {c}) AS BIGINT)
         AS rows_per_value,
       CASE WHEN COUNT(DISTINCT {c}) < {_ADV_MIN_PARTS} THEN 'no-benefit'
            WHEN COUNT(DISTINCT {c}) <= {_ADV_MAX_PARTS} THEN 'partition'
            ELSE 'bucket' END AS verdict
FROM orders""")
    return "\nUNION ALL\n".join(sels)


@query("layout_partition_advisor", oracle=_advisor_sql())
def layout_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout advisor: per candidate column, its distinct-value
    count, table rows, average rows-per-value, and a verdict from the
    standard lakehouse rule — too few values prune nothing
    ('no-benefit'), a bounded value set becomes the hive partition
    column ('partition': every value a directory, partition pruning at
    plan time — scan_dpp_pruned's precondition), an unbounded/high-
    cardinality key would explode into small files and should be
    BUCKETED instead (shuffle-free joins — the bucketing tests'
    precondition). The profiling that layout_zorder_skipping assumes
    already happened.

    Scale shape: one scan, five partial-aggregable count-distincts
    (exact here; at 100 TB the same advisor runs on approx_count_
    distinct within ±2% and the verdict thresholds absorb the
    error)."""
    o = load(spark, sf_dir, "orders")
    outs = []
    for c in _ADV_COLS:
        outs.append(
            o.agg(
                F.lit(c).alias("col"),
                F.count_distinct(F.col(c)).cast("long").alias("n_distinct"),
                F.count("*").cast("long").alias("n_rows"),
            ).select(
                "col",
                "n_distinct",
                "n_rows",
                (F.col("n_rows") / F.col("n_distinct")).alias("rows_per_value"),
                F.when(F.col("n_distinct") < _ADV_MIN_PARTS, "no-benefit")
                .when(F.col("n_distinct") <= _ADV_MAX_PARTS, "partition")
                .otherwise("bucket")
                .alias("verdict"),
            )
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out


_RGS_COL = "l_extendedprice"

def rgs_duckdb_sql(sf_dir: str) -> str:
    """DuckDB twin for the pytest parity check: the driver's oracle
    strings are STATIC (no sf_dir templating), and parquet_metadata()
    needs a literal file path — so the per-row-group DETAIL grain is
    test-checked here (parameterized on the real path) while the
    registered query carries the table-level contract oracle."""
    from ..tables import table_path

    return f"""
SELECT CAST(row_group_id AS BIGINT) AS row_group_id,
       CAST(row_group_num_rows AS BIGINT) AS n_rows,
       CAST(stats_min_value AS DOUBLE) AS min_price,
       CAST(stats_max_value AS DOUBLE) AS max_price,
       CAST(stats_null_count AS BIGINT) AS n_nulls
FROM parquet_metadata('{table_path(sf_dir, "lineitem")}')
WHERE path_in_schema = '{_RGS_COL}'
"""


def rowgroup_stats_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row-group footer statistics (the zone-map skipping inputs),
    read via pyarrow on the driver — metadata only, bounded (the
    scan_manifest_skipped discipline). The per-row-group grain is not
    oracle-expressible (DuckDB's parquet_metadata() needs a literal
    file path the gate's static oracle strings can't carry), so this
    detail frame is pinned against DuckDB's reading of the SAME footer
    bytes in tests/test_storage_layout.py; the registered query below
    reduces it to an oracle-checkable contract."""
    import pyarrow.parquet as pq

    from ..tables import table_path

    pf = pq.ParquetFile(table_path(sf_dir, "lineitem"))
    idx = pf.schema_arrow.names.index(_RGS_COL)
    rows = []
    for rg in range(pf.metadata.num_row_groups):
        col = pf.metadata.row_group(rg).column(idx)
        st = col.statistics
        rows.append(
            (
                rg,
                pf.metadata.row_group(rg).num_rows,
                float(st.min),
                float(st.max),
                int(st.null_count),
            )
        )
    return spark.createDataFrame(
        rows,
        "row_group_id long, n_rows long, min_price double, "
        "max_price double, n_nulls long",
    )


@query(
    "scan_rowgroup_stats",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN({_RGS_COL}) AS min_price,
       MAX({_RGS_COL}) AS max_price,
       CAST(SUM(CASE WHEN {_RGS_COL} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       1 AS all_min_le_max,
       1 AS all_groups_nonempty
FROM lineitem
""",
)
def scan_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout introspection, contract-checked (r8 — promoted
    from rows-only per VERDICT r7 item 4): the per-row-group
    min/max/null statistics the scanner's zone-map skipping consults
    (layout_zorder_skipping MEASURES skipping; this EXPOSES the stats
    it runs on), reduced to the invariants a table-level oracle CAN
    recompute: summed row counts must equal COUNT(*), the min of
    row-group minima / max of maxima must equal the table's true
    MIN/MAX (parquet stores exact statistics for numeric columns),
    null counts must sum to the table's, and the in-query flags assert
    every row group is internally consistent (min <= max, nonempty) —
    the oracle states those flags as literal truth, so a corrupt or
    truncated footer fails the hash. The per-row-group detail frame
    (rowgroup_stats_detail) stays pinned byte-for-byte against
    DuckDB's parquet_metadata() in tests/test_storage_layout.py.

    Scale: footers are O(row groups), not O(rows) — at 100 TB this is
    the metadata pass every planner already does; emit it to a table
    once per snapshot and partition advisors read the table."""
    d = rowgroup_stats_detail(spark, sf_dir)
    return d.agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.min("min_price").alias("min_price"),
        F.max("max_price").alias("max_price"),
        F.sum("n_nulls").cast("long").alias("n_nulls"),
        F.min(
            F.when(F.col("min_price") <= F.col("max_price"), 1).otherwise(0)
        )
        .cast("int")
        .alias("all_min_le_max"),
        F.min(F.when(F.col("n_rows") > 0, 1).otherwise(0))
        .cast("int")
        .alias("all_groups_nonempty"),
    )


_BFP_M = 16384  # bloom bits per shard
_BFP_K = 3      # hash functions
_BFP_PROBE_MOD = 997  # ~0.1% of orderkeys become probe lookups


def _bfp_hash_sql(key: str, i: int) -> str:
    return (
        f"CAST('0x' || substring(md5('bf{i}:' || CAST({key} AS VARCHAR)),"
        f" 1, 15) AS BIGINT) % {_BFP_M}"
    )


_BFP_SQL = f"""
WITH keys AS (
  SELECT DISTINCT (epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000)
           // 30 AS shard,
         l_orderkey AS okey
  FROM lineitem
),
idx AS (
  SELECT DISTINCT shard, pos FROM (
    {" UNION ALL ".join(
        f"SELECT shard, {_bfp_hash_sql('okey', i)} AS pos FROM keys"
        for i in range(_BFP_K)
    )}
  )
),
probes AS (
  SELECT DISTINCT o_orderkey AS okey FROM orders
  WHERE CAST('0x' || substring(md5('probe:' || CAST(o_orderkey AS VARCHAR)),
             1, 15) AS BIGINT) % {_BFP_PROBE_MOD} = 0
),
ppos AS (
  {" UNION ALL ".join(
      f"SELECT okey, {i} AS h, {_bfp_hash_sql('okey', i)} AS pos FROM probes"
      for i in range(_BFP_K)
  )}
),
cand AS (
  SELECT p.okey, i.shard
  FROM ppos p JOIN idx i ON i.pos = p.pos
  GROUP BY 1, 2
  HAVING COUNT(DISTINCT p.h) = {_BFP_K}
),
truth AS (
  SELECT k.okey, k.shard FROM keys k JOIN probes p ON p.okey = k.okey
),
tot AS (SELECT CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards FROM keys)
SELECT p.okey AS probe_key,
       tot.n_shards,
       CAST(COUNT(DISTINCT c.shard) AS BIGINT) AS n_candidate_shards,
       CAST(COUNT(DISTINCT t.shard) AS BIGINT) AS n_true_shards,
       CASE WHEN COUNT(DISTINCT t.shard)
                 = COUNT(DISTINCT CASE WHEN c2.shard IS NOT NULL
                                       THEN t.shard END)
            THEN 1 ELSE 0 END AS no_false_negative
FROM probes p
CROSS JOIN tot
LEFT JOIN cand c ON c.okey = p.okey
LEFT JOIN truth t ON t.okey = p.okey
LEFT JOIN cand c2 ON c2.okey = t.okey AND c2.shard = t.shard
GROUP BY 1, 2
"""


@query("layout_bloom_pruning", oracle=_BFP_SQL)
def layout_bloom_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-level BLOOM-INDEX pruning: the point-lookup complement of
    the min/max manifest (scan_manifest_skipped) and the z-order curve
    (layout_zorder_skipping). Those prune range predicates on the SORT
    key; a lookup on a key UNCORRELATED with the layout (here:
    orderkey probes against a shipdate-sharded table — every shard's
    orderkey min/max spans everything) prunes NOTHING from zone maps.
    A per-shard Bloom filter (m=16384 bits, k=3 md5-derived hashes,
    materialized as the relational (shard, bit-position) index — the
    Parquet bloom_filter/Iceberg puffin equivalent, kept queryable)
    answers 'which shards MIGHT contain this key'; a shard qualifies
    iff all k probe positions are set. Per probe the audit emits total
    vs candidate vs truly-containing shard counts and the no-false-
    negative contract flag (Bloom may over-admit — the candidate count
    vs truth gap IS the measured false-positive cost — but must never
    under-admit).

    Determinism: positions and probe selection are md5-lattice values
    (the registry's only cross-engine hash); everything else is exact
    integer counting.

    Scale: the index build is one distinct-project of 3 positions per
    (shard, key) — partial-aggregable, output bounded by shards x m
    rows regardless of fact cardinality; probes join the index on the
    position key (equi, broadcastable). At 100 TB the index lives as a
    table maintained per ingest batch (dedup_incremental's delta
    discipline) and each point lookup touches the candidate shards
    only."""
    li = load(spark, sf_dir, "lineitem")
    # r12: keys feeds the index build, the truth join and the shard
    # count — lazily checkpointed so the fact distinct runs ONCE (the
    # r11 form re-ran the lineitem scan+distinct per reference: 3x via
    # the index union + truth + tot ≈ 5 passes; guide §2.4).
    keys = pin(
        li.select(
            F.expr(
                "(unix_micros(CAST(l_shipdate AS TIMESTAMP))"
                " div 86400000000) div 30"
            ).alias("shard"),
            F.col("l_orderkey").alias("okey"),
        )
        .distinct(),
        eager=False,
    )

    def hpos(col: str, i: int):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"bf{i}:"), F.col(col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint") % _BFP_M

    # r12: the k positions explode out of ONE pass over keys instead of
    # a k-way self-union (same md5 count per row, one plan reference).
    idx = keys.select(
        "shard",
        F.explode(
            F.array(*[hpos("okey", i) for i in range(_BFP_K)])
        ).alias("pos"),
    ).distinct()

    probes = pin(  # r12: feeds ppos, truth, joined
        load(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("okey"))
        .filter(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("probe:"), F.col("o_orderkey").cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % _BFP_PROBE_MOD
            == 0
        )
        .distinct(),
        eager=False,
    )
    # r12: posexplode replaces the k-way self-union (h = array position
    # == the old F.lit(i) label; one plan reference).
    ppos = probes.select(
        "okey",
        F.posexplode(
            F.array(*[hpos("okey", i) for i in range(_BFP_K)])
        ).alias("h", "pos"),
    )

    cand = pin(  # r12: read twice (c and c2)
        ppos.join(idx, "pos")
        .groupBy("okey", "shard")
        .agg(F.count_distinct("h").alias("nh"))
        .filter(F.col("nh") == _BFP_K)
        .select("okey", "shard"),
        eager=False,
    )
    truth = keys.join(F.broadcast(probes), "okey").select("okey", "shard")
    tot = keys.agg(F.count_distinct("shard").cast("bigint").alias("n_shards"))

    c = cand.select(F.col("okey"), F.col("shard").alias("c_shard"))
    t = truth.select(F.col("okey"), F.col("shard").alias("t_shard"))
    c2 = cand.select(
        F.col("okey").alias("okey2"), F.col("shard").alias("c2_shard")
    )
    joined = (
        probes.crossJoin(F.broadcast(tot))
        .join(c, "okey", "left")
        .join(t, "okey", "left")
        .join(
            c2,
            (F.col("okey2") == F.col("okey"))
            & (F.col("c2_shard") == F.col("t_shard")),
            "left",
        )
    )
    return joined.groupBy(
        F.col("okey").alias("probe_key"), "n_shards"
    ).agg(
        F.count_distinct("c_shard").cast("bigint").alias(
            "n_candidate_shards"
        ),
        F.count_distinct("t_shard").cast("bigint").alias("n_true_shards"),
        F.when(
            F.count_distinct("t_shard")
            == F.count_distinct(
                F.when(F.col("c2_shard").isNotNull(), F.col("t_shard"))
            ),
            1,
        )
        .otherwise(0)
        .alias("no_false_negative"),
    )
