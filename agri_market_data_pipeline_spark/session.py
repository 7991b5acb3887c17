"""SparkSession construction and runtime-conf hygiene.

The engine targets a large multi-executor cluster; locally we run
``local[N]``. Session-level choices that matter at 100 TB:

- AQE on (skew-join handling, partition coalescing, runtime re-plan).
- Arrow on (pandas UDF / toPandas batch transfer).
- UTC session timezone (deterministic timestamp semantics vs. oracles).
- shuffle partitions sized to the environment (overridable per job).
- a codegen cache that holds the engine's whole working set, so a query
  that runs again reuses its compiled classes.
- Python workers started through ``pydaemon``, which spares each task
  the re-read of pyspark.zip's directory, with the package on the
  workers' path whatever the working directory is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf we can (and do) also apply to sessions we did not create — e.g. the
# driver-supplied session in __spark_entry__ — because they are
# runtime-settable SQL confs.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Larger Arrow batches amortize per-batch Python/serialization
    # overhead in pandas UDF paths (measured ~15-25% on 600k-row UDFs);
    # still far below executor memory at 100k rows × narrow schemas.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "100000",
    # Parquet scans: keep pushdown on (it is by default; pinned for clarity).
    "spark.sql.parquet.filterPushdown": "true",
}


# Whole-stage codegen keeps compiled classes in an LRU keyed by the
# generated source. Spark's default of 100 entries holds less than one
# pass over the recurring queries of a long-lived session, so each query
# recompiled the classes the queries before it had evicted. 2048 is the
# measured working set — one pass of bench.py's 114 headline queries at
# sf0.01 compiles 1971 distinct classes — rounded up to a power of two.
# A compiled class costs ~70 KB of metaspace. The conf is static: it
# reaches only the sessions get_spark creates.
CODEGEN_CACHE_ENTRIES = 2048


# Python workers fork from this module instead of pyspark.daemon (see
# pydaemon: ~0.27 -> ~0.04 s of worker CPU per no-op task). The daemon
# runs in the JVM's working directory, so the package's parent directory
# goes on the workers' PYTHONPATH, which Spark appends to pyspark's own.
# Both confs are static: a driver-supplied session keeps Spark's daemon.
PYTHON_DAEMON_MODULE = "agri_market_data_pipeline_spark.pydaemon"
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory() -> str:
    """Driver heap for get_spark sessions: a quarter of physical memory,
    at most 16g (so any host with 64 GB or more keeps 16g). A fixed 16g
    let one sf0.1 run grow to 10.7 GB resident on a 15 GB host, and the
    kernel killed it when a second run shared the host.
    ``SPARK_DRIVER_MEMORY`` overrides it."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, ram_mb // 4)}m"


def codegen_compiles(spark: SparkSession) -> int:
    """Classes compiled by Spark's code generator in this JVM so far —
    one per codegen-cache miss. Diff it around a query to count what
    the query compiled."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 4


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an existing session (idempotent)."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be static in exotic deployments; never fail a
            # query over a tuning knob.
            pass
    return spark


def get_spark(app_name: str = "agri-market-data-pipeline-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster you would size it to ~2-3× total executor cores or simply let
    AQE coalesce from a higher initial value.
    """
    master = master or os.environ.get("SPARK_MASTER", f"local[{default_parallelism()}]")
    n_shuffle = shuffle_partitions or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()),
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return ensure_runtime_conf(spark)
