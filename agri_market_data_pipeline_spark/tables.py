"""Table loaders over the driver testdata (and generic parquet/CSV paths).

All reads are plain ``spark.read.parquet`` so Catalyst gets projection +
predicate pushdown for free; no caching by default (at 100 TB you cache
dimensions only, and we broadcast those at join time instead).
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import tempfile
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import memo
from .schemas import TABLE_NAMES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def source_fingerprint(sf_dir: str, *names: str) -> str:
    """12-hex fingerprint of one or more tables' on-disk parquet
    (file names + sizes + mtimes). Every memo (``memo.cached``) and
    fixture mirror (:func:`mirror`) folds it into its key, so a
    regenerated or appended testdata dir invalidates them instead of
    serving stale frames, scalars or files."""
    import hashlib

    parts: list[str] = []
    for name in names:
        src = table_path(sf_dir, name)
        paths = [src]
        if os.path.isdir(src):
            paths = sorted(
                os.path.join(src, f)
                for f in os.listdir(src)
                if not f.startswith("_")
            )
        for p in paths:
            try:
                st = os.stat(p)
            except OSError:
                parts.append(f"{p}:absent")
                continue
            parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


_MIRROR_GRACE_S = 3600  # a stale vintage younger than this may be in use


def mirror(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    tables: tuple[str, ...],
    write: Callable[[str], None],
) -> str:
    """Path of an on-disk fixture mirror (an alternate-format copy of
    input tables): ``$TMPDIR/agri_<kind>_<sf tag>_<fingerprint>``.

    ``write(path)`` runs only when the path's ``_SUCCESS`` marker is
    missing (a crashed earlier write leaves a partial dir that must
    not be served); the marker is written after it returns. The path
    is final — no stage-and-rename — because a mirror may store
    absolute paths to its own files (the manifest does). After a write,
    mirrors of earlier source vintages for this sf_dir and kind are
    removed: only names with exactly this prefix plus a 12-hex
    fingerprint (a sibling sf dir whose name extends this one's is not
    touched), and only those older than a grace period, so a concurrent
    reader of a just-replaced vintage keeps its files."""
    prefix = os.path.join(
        tempfile.gettempdir(), f"agri_{kind}_" + sf_dir.strip("/").replace("/", "_")
    )
    out = f"{prefix}_{source_fingerprint(sf_dir, *tables)}"
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        return out
    write(out)
    open(marker, "a").close()
    slot = re.compile(re.escape(prefix) + r"_[0-9a-f]{12}")
    for stale in glob.glob(glob.escape(prefix) + "_*"):
        if stale == out or not slot.fullmatch(stale):
            continue
        try:
            age = time.time() - os.stat(stale).st_mtime
        except OSError:
            continue
        if age > _MIRROR_GRACE_S:
            shutil.rmtree(stale, ignore_errors=True)
    return out


_LOAD_CACHE: dict = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one testdata table (projection/predicate pushdown
    applies to whatever the caller selects/filters downstream).

    The returned DataFrame (an immutable logical plan, no data, no
    cached blocks) is a metadata memo (``memo.cached``) per sf_dir, name
    and source fingerprint — the register_views discipline applied to
    the DataFrame path: `spark.read.parquet` re-resolves the footer and
    re-infers the schema on EVERY call (~0.1-0.15 s of py4j + listing
    even warm, measured r12), and queries call load() 1-5× per run, so
    the un-memoized form billed the whole suite a scan-independent tax
    (guide §1.2: per-task work after the algorithm, and this is pure
    plan-build latency). Execution still scans parquet fresh each
    action; expressions evaluate under the session conf at execution
    time, so hostile-session re-poisoning (timezone/ANSI) sees the
    identical plan it would have built itself. The fingerprint
    invalidates on regenerated testdata."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")

    def build() -> DataFrame:
        if name == "events":
            return load_events(spark, sf_dir)
        return spark.read.parquet(table_path(sf_dir, name))

    return memo.cached(_LOAD_CACHE, spark, sf_dir, (name,), build, name)


_MAX_GROUP_CACHE: dict = {}


def max_group_count(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> int:
    """Max rows per `key` group in one table — the one-row pre-agg that
    decides whether a degree-cap rank pass is needed (VERDICT r5: the
    unconditional ROW_NUMBER cap in the pair generators cost an extra
    exchange+sort at every data where the cap never binds). A single
    partial-agg-friendly scan of one column, a metadata memo
    (``memo.cached``) per sf_dir, table, key and source fingerprint so
    repeated bench runs and the full selfcheck pay it once; the
    fingerprint invalidates on regenerated testdata. At 100 TB this
    scalar comes from the metastore's column statistics / NDV instead."""

    def build() -> int:
        row = (
            load(spark, sf_dir, name)
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c").alias("m"))
            .first()
        )
        return int(row["m"] or 0)

    return memo.cached(_MAX_GROUP_CACHE, spark, sf_dir, (name,), build, name, key)


def max_column_value(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> int:
    """Max value of one integer column — same memoized one-row pre-agg
    discipline as max_group_count. Used to assert packed-argmax-key
    radixes at build time (ADVICE r8: LPA's ws*1024+(1023-lbl) and
    Boruvka's base-32 pack silently lose injectivity if the vertex
    domain ever outgrows the radix — a domain change must fail loudly,
    not produce tie-dependent cross-engine divergence). At 100 TB this
    scalar comes from the metastore's column max statistic."""

    def build() -> int:
        row = load(spark, sf_dir, name).agg(F.max(key).alias("m")).first()
        return int(row["m"] or 0)

    return memo.cached(
        _MAX_GROUP_CACHE, spark, sf_dir, (name,), build, name, key, "max_value"
    )


def events_ts_is_nanos(sf_dir: str) -> bool:
    """True when events.parquet stores ts as TIMESTAMP(NANOS) (which the
    vectorized Spark reader rejects outright); False for the plain
    micro/millisecond timestamp layout. Decided from the parquet footer so
    the engine tolerates either generation of the testdata."""
    import pyarrow.parquet as pq

    field = pq.read_schema(table_path(sf_dir, "events")).field("ts")
    return str(field.type) == "timestamp[ns]"


def table_row_count(sf_dir: str, name: str) -> int:
    """Row count from the parquet footer metadata — the table-stats path.

    No Spark job, no data scan: the count is a footer field pyarrow
    reads in O(files). This is what replaces driver-side ``df.count()``
    actions that exist only to size an index parameter (e.g.
    sim_knn_join's K = ⌈√n⌉); at 100 TB the same number comes from the
    metastore's table statistics."""
    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    paths = [path]
    if os.path.isdir(path):
        paths = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def embedding_dim(sf_dir: str) -> int:
    """Embedding vector width, read from the first parquet record batch
    with pyarrow — setup-time metadata, no Spark job (list<float>
    columns don't carry a fixed width in the schema)."""
    import pyarrow.parquet as pq

    path = table_path(sf_dir, "embeddings")
    if os.path.isdir(path):
        path = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )[0]
    batch = next(
        pq.ParquetFile(path).iter_batches(batch_size=1, columns=["embedding"])
    )
    return len(batch.column(0)[0])


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events scan, normalized so downstream always sees ts: TIMESTAMP
    (session-zone, UTC). Handles both physical layouts the driver has
    shipped: INT64 TIMESTAMP(NANOS) and plain timestamp[us]."""
    path = table_path(sf_dir, "events")
    if events_ts_is_nanos(sf_dir):
        # Read nanos as long and rebuild a (microsecond) timestamp column;
        # truncation below µs is irrelevant to query semantics and matches
        # DuckDB's collected precision.
        # Scoped conf: the legacy flag is consulted at schema-conversion
        # (plan-creation) time, so it can be restored immediately after
        # read.parquet — leaving it set session-wide would silently turn
        # TIMESTAMP(NANOS) columns in *unrelated* reads into BIGINTs.
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(path)
        finally:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        # integral `div`, not `/`: epoch nanos exceed double's 53-bit
        # mantissa, so float division would round some values by ±1 µs.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    df = spark.read.parquet(path)
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type == "timestamp_ntz":
        # Session timezone is pinned to UTC (session.py), so NTZ→LTZ is a
        # value-preserving relabel; keeps every downstream query and plan
        # identical across both physical layouts.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan + round-robin repartition for CPU-heavy derivations.

    The testdata tables are single parquet files → a map-only pipeline
    over them runs in ONE task regardless of cluster size. Operators
    whose per-row work dominates (shingling, hashing, vector math,
    pandas UDFs) pay one cheap shuffle here to engage every core. On a
    real 100 TB table with many files this is unnecessary — file splits
    already parallelize — so it repartitions to the local core count
    only when the scan has fewer partitions than that."""
    from .session import default_parallelism

    df = load(spark, sf_dir, name)
    target = default_parallelism()
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql paths).

    Memoized per (session → sf_dir): a catalog registers once, like a
    metastore — re-resolving ten parquet footers per query would bill
    every SQL call ~1s of pure setup. Pointing the session at a
    different sf_dir re-registers (and replaces) the views."""
    if getattr(spark, "_agri_registered_views", None) == sf_dir:
        return
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
    spark._agri_registered_views = sf_dir
