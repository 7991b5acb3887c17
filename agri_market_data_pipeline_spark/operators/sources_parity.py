"""Source-layer parity operators: SURVEY.md §2.A's ingestion machinery
(src_paginated_api, src_retry_backoff, skip_empty_page, rate_limit,
chk_offset_resume, sink_partitioned_append, orchestrate_cron) exercised
END-TO-END as oracle-checkable queries.

Trick: a deterministic 'paginated REST API' backed by the events
parquet file — each page is a row-range slice served by pyarrow inside
the executors. The full distributed source path (page-range
parallelism, retry ladder, dead-lettering, throttling, offset
checkpointing, per-trigger orchestration) runs for real, and because
the feed's content equals the events table, DuckDB can verify the
result exactly. The reference's network loop (fetch_data.py:64-165)
is thereby hash-checked, not just unit-tested.
"""

from __future__ import annotations

import itertools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.exact import dsum, sql_dsum
from ..memo import pin
from ..registry import query
from ..sources.checkpoint import OffsetCheckpoint
from ..sources.paginated_api import read_paginated_api
from ..sources.sinks import merge_upsert
from ..tables import load, table_path
from .scalar_fns import safe_name

_SINK_IDS = itertools.count()

_FEED_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)

_EVENTS_AGG_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS cnt,
       {sql_dsum("value")} AS sum_value
FROM events
GROUP BY event_type
"""


def _feed(sf_dir: str, fail_once_every: int | None = None):
    """Paged feed over events.parquet. With fail_once_every=N, the first
    fetch of every N-th page raises (transient failure) and succeeds on
    retry — deterministic because retry state lives in the closure."""
    path = table_path(sf_dir, "events")
    seen_failures: set[int] = set()
    # NOTE: raw pyarrow (not tables.load) is deliberate — this closure
    # *simulates the external API server*, not an engine read path. The
    # nanos `ts` column is excluded from the feed for exactly the reason
    # CLAUDE.md routes engine reads through tables.load.
    table_cache: list = []  # one parse per deserialized task closure

    def fetch(offset: int, limit: int) -> list[dict]:
        if (
            fail_once_every
            and (offset // limit) % fail_once_every == 0
            and offset not in seen_failures
        ):
            seen_failures.add(offset)
            raise ConnectionError(f"transient fault at offset {offset}")
        if not table_cache:
            import pyarrow.parquet as pq

            table_cache.append(
                pq.read_table(
                    path, columns=["event_id", "user_id", "event_type", "value"]
                )
            )
        return table_cache[0].slice(offset, limit).to_pylist()

    return fetch


def _feed_rows(sf_dir: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(table_path(sf_dir, "events")).metadata.num_rows


def _agg(records: DataFrame) -> DataFrame:
    return records.groupBy("event_type").agg(
        F.count("*").alias("cnt"), dsum("value").alias("sum_value")
    )


@query("src_paginated_api", oracle=_EVENTS_AGG_ORACLE)
def src_paginated_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed offset/limit paged scan (fetch_data.py:64-114 made
    parallel): page ranges fan out over executors, every record arrives
    through the JSON wire-IR path, and the aggregate hash-matches the
    table the feed was carved from — proving no page lost, duplicated,
    or torn at the boundaries."""
    records, _ = read_paginated_api(
        spark,
        _feed(sf_dir),
        max_offset=_feed_rows(sf_dir),
        limit=1000,
        schema=_FEED_SCHEMA,
        num_partitions=8,
        pace=0.0,
        throttle_s=0.0,
    )
    return _agg(records)


@query("src_retry_backoff", oracle=_EVENTS_AGG_ORACLE)
def src_retry_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resilience ladder under injected transient faults: every 3rd page
    fails its first fetch and is recovered by the exponential-backoff
    retry (fetch_data.py:20-24,82) — the aggregate still matches the
    clean table exactly; nothing was skipped or double-read."""
    records, dead = read_paginated_api(
        spark,
        _feed(sf_dir, fail_once_every=3),
        max_offset=_feed_rows(sf_dir),
        limit=1000,
        schema=_FEED_SCHEMA,
        num_partitions=8,
        pace=0.0,  # collapse the backoff sleeps; the ladder still runs
        throttle_s=0.0,
    )
    return _agg(records)


@query("skip_empty_page", oracle=_EVENTS_AGG_ORACLE)
def skip_empty_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-tolerant scan (fetch_data.py:139-144): the offset range runs
    3 pages past the end of the feed; empty pages consume their range
    without error and contribute nothing."""
    records, _ = read_paginated_api(
        spark,
        _feed(sf_dir),
        max_offset=_feed_rows(sf_dir) + 3000,
        limit=1000,
        schema=_FEED_SCHEMA,
        num_partitions=8,
        pace=0.0,
        throttle_s=0.0,
    )
    return _agg(records)


@query("rate_limit", oracle=_EVENTS_AGG_ORACLE)
def rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition token-bucket throttle (the reference's 0.3 s
    inter-page sleep, fetch_data.py:165, scaled down): correctness is
    unchanged by pacing; tests/test_ingest.py asserts the actual sleep
    behavior (the throttle is independent of the retry `pace` knob)."""
    records, _ = read_paginated_api(
        spark,
        _feed(sf_dir),
        max_offset=_feed_rows(sf_dir),
        limit=1000,
        schema=_FEED_SCHEMA,
        num_partitions=8,
        pace=0.0,
        throttle_s=0.002,
    )
    return _agg(records)


@query("chk_offset_resume", oracle=_EVENTS_AGG_ORACLE)
def chk_offset_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable offset checkpoint (fetch_data.py:45-59): the feed is
    ingested in two separate runs — the first stops midway, the second
    resumes from the saved watermark; the upserted store equals one
    clean pass."""
    n = _feed_rows(sf_dir)
    with tempfile.TemporaryDirectory(prefix="chk_resume_") as d:
        ckpt = OffsetCheckpoint(os.path.join(d, "progress.json"))
        store = os.path.join(d, "store")
        for stop in (n // 2, n):  # run 1 halts midway; run 2 resumes
            start = ckpt.load()
            records, _ = read_paginated_api(
                spark,
                _feed(sf_dir),
                start_offset=start,
                max_offset=stop,
                limit=1000,
                schema=_FEED_SCHEMA,
                num_partitions=4,
                pace=0.0,
                throttle_s=0.0,
            )
            merge_upsert(
                spark, store, records.drop("_src_offset"),
                keys=["event_id"], order_col="event_id",
            )
            ckpt.save(stop)
        return pin(_agg(spark.read.parquet(store)))  # outlive the temp dir


@query("orchestrate_cron", oracle=_EVENTS_AGG_ORACLE)
def orchestrate_cron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cron loop (run.yml:3-6): four independent triggers, each
    resuming from the checkpoint, fetching a bounded page budget,
    upserting, and advancing the watermark — state continuity lives
    ONLY in the checkpoint + store, exactly the reference's model (its
    git-committed progress.json + CSVs, run.yml:29-35)."""
    n = _feed_rows(sf_dir)
    pages_per_trigger = max(1, (n // 1000 + 3) // 4 + 1)
    with tempfile.TemporaryDirectory(prefix="cron_") as d:
        ckpt = OffsetCheckpoint(os.path.join(d, "progress.json"))
        store = os.path.join(d, "store")
        for _trigger in range(4):
            start = ckpt.load()
            if start >= n:
                break
            end = min(start + pages_per_trigger * 1000, n)
            records, _ = read_paginated_api(
                spark,
                _feed(sf_dir),
                start_offset=start,
                max_offset=end,
                limit=1000,
                schema=_FEED_SCHEMA,
                num_partitions=4,
                pace=0.0,
                throttle_s=0.0,
            )
            merge_upsert(
                spark, store, records.drop("_src_offset"),
                keys=["event_id"], order_col="event_id",
            )
            ckpt.save(end)
        return pin(_agg(spark.read.parquet(store)))


@query(
    "sink_partitioned_append",
    oracle=f"""
SELECT regexp_replace(
           regexp_replace(lower(trim(p_type)), '[^\\w\\s-]', '', 'g'),
           '\\s+', '_', 'g') AS ptype_dir,
       COUNT(*) AS n_rows,
       {sql_dsum("p_retailprice")} AS sum_price
FROM part
GROUP BY 1
""",
)
def op_sink_partitioned_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write → read-back round trip (the reference's
    per-commodity file layout, fetch_data.py:119-128): rows are written
    partitionBy(safe_name(key)) and re-read; the read-back aggregate
    matching the source proves the layout is lossless and the partition
    values survive directory-name encoding."""
    from ..sources.sinks import sink_partitioned_append as do_append

    p = load(spark, sf_dir, "part").withColumn("ptype_dir", safe_name("p_type"))
    with tempfile.TemporaryDirectory(prefix="psink_") as d:
        path = os.path.join(d, "parts")
        do_append(p, path, partition_key="ptype_dir")
        back = spark.read.parquet(path)
        return pin(
            back.groupBy("ptype_dir").agg(
                F.count("*").alias("n_rows"),
                dsum("p_retailprice").alias("sum_price"),
            )
        )


@query("src_python_datasource", oracle=_EVENTS_AGG_ORACLE)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paged feed as a REGISTERED Spark data source (Spark 4 Python
    DataSource API, sources/pyds.py) — `spark.read.format("paged_feed")`
    replaces hand-built range+mapPartitions plumbing: Catalyst sees a
    real source with page-range InputPartitions, each executor pulls its
    pages through the same wire-IR path, and the aggregate hash-matches
    the backing table (no page lost, duplicated, or torn)."""
    from ..sources import pyds

    pyds.register(spark)
    records = (
        spark.read.format("paged_feed")
        .option("path", sf_dir)
        .option("limit", "1000")
        .option("numPartitions", "8")
        .load()
    )
    return _agg(records)


@query("stream_python_datasource", oracle=_EVENTS_AGG_ORACLE)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's cron loop, end to end, on the modern API: the
    Python DataSource's SimpleDataSourceStreamReader hands Spark
    `initialOffset`/`read(start)`/`readBetweenOffsets` — progress.json
    become the engine's own offset log — and repeated AvailableNow
    triggers against ONE durable checkpoint are the 3-hourly harvests
    (run.yml:6). Each trigger drains the reader's prefetched pages,
    commits its offset transactionally with the aggregate state, and
    the next trigger resumes where the last stopped; the final complete-
    mode aggregate hash-matches the backing table, proving exactly-once
    across all resumed runs (vs fetch_data.py's at-least-once window)."""
    import shutil

    from ..sources import pyds

    pyds.register(spark)
    ckpt = tempfile.mkdtemp(prefix="ckpt_pyds_")
    sink = f"pyds_stream_{next(_SINK_IDS)}_{os.getpid()}"
    total = _feed_rows(sf_dir)
    # each cron tick drains one prefetched harvest; size the harvest so
    # ~3 ticks cover any feed — enough to prove two RESUMES against the
    # shared checkpoint (the exactly-once claim) without paying a
    # streaming-query startup per extra tick (the reference's per-run
    # ingest is likewise 'whatever accumulated', not a fixed page count)
    pages_per_batch = max(3, -(-total // 1000) // 3 + 1)
    try:
        done = 0
        for _ in range(16):  # cron ticks; exits when the feed is drained
            ev = (
                spark.readStream.format("paged_feed")
                .option("path", sf_dir)
                .option("limit", "1000")
                .option("pagesPerBatch", str(pages_per_batch))
                .load()
            )
            agg = ev.groupBy("event_type").agg(
                F.count("*").alias("cnt"), dsum("value").alias("sum_value")
            )
            q = (
                agg.writeStream.format("memory")
                .queryName(sink)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            done += sum(
                p["sources"][0]["numInputRows"] for p in q.recentProgress
            )
            if done >= total:
                break
        return pin(spark.table(sink))
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
