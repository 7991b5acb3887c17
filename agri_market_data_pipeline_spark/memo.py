"""One way to memoize: :func:`cached` for in-session results, and
``tables.mirror`` for on-disk fixture mirrors. One way to
materialize: :func:`pin`.

Every memo is keyed on ``(applicationId, sf_dir, *extra, source
fingerprint)``, so a result is reused only while the tables it was
built from are unchanged on disk (regenerated testdata, or a cron
append, misses and rebuilds). Three classes of memo live in this
package, and one class of pin:

1. **Data memos** — checkpointed DataFrames (index builds, stored-side
   assignments, curation stage frames), served by :func:`cached` over
   a dict made with :func:`register`. These model "in production the
   index/table is built at write time and persisted", which is honest
   for repeated *serving* calls inside one invocation, but across bench
   samples it silently shifts the build out of the timed region (the
   untimed warm-up pays it, the 3 timed samples never do). So
   ``bench.py``/``tools/qbench.py`` call :func:`clear_all` between
   samples and EVERY timed invocation pays its own builds. A data memo
   keeps one live entry; eviction unpersists the checkpointed RDD
   blocks (``spark.catalog.clearCache()`` does not see localCheckpoint
   blocks — CLAUDE.md).

2. **Metadata memos** — immutable logical plans (``tables.load``),
   one-row plan-shape statistics (``tables.max_group_count``,
   ``textstats._distinct_token_count``) and write-once layouts
   (``storage_layout.bucketed_tables``), served by :func:`cached` over
   a plain dict. At 100 TB these are metastore/table statistics, not
   computation over the data; they survive :func:`clear_all` and are
   bounded by a size cap instead.

3. **Fixture mirrors** — alternate-format copies of an *input* table
   (CSV, ORC, XML, partitioned, compacted, manifest), served by
   ``tables.mirror``: a directory under the temp dir named by the
   source fingerprint, complete when its ``_SUCCESS`` marker exists.

4. **Pins** — an intermediate one plan reads more than once,
   materialized by :func:`pin`. Not a memo: no later call reuses it.
   :func:`clear_all` unpersists every persistent RDD of the active
   SparkContext, so the bench sample boundary strands no blocks; that
   releases exactly the pins and data memos, because nothing else in
   the package persists (``tests/test_materialize_guard.py``). The
   helper keeps no reference to a pin, so a process that never calls
   :func:`clear_all` (the ``jobs/`` pipelines) keeps Spark's GC-driven
   cleanup.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from typing import Any, Callable

_REGISTRY: list[dict] = []
_METADATA_ENTRIES = 256  # size cap of a metadata memo: entries are cheap
COUNTS = {"builds": 0, "hits": 0}  # cached() calls, over every memo
_PIN_DIRS: list[str] = []  # the directories of reset_stats pins


def register(cache: dict) -> dict:
    """Register a data-memo dict; returns it so modules can write
    ``_FOO_CACHE = memo.register({})`` at definition site."""
    _REGISTRY.append(cache)
    return cache


def cached(
    cache: dict,
    spark,
    sf_dir: str,
    tables: tuple[str, ...],
    build: Callable[[], Any],
    *extra: Any,
) -> Any:
    """``build()``'s value, memoized in ``cache`` per (applicationId,
    sf_dir, *extra, fingerprint of ``tables``). A registered (data)
    memo evicts its one live entry before a build; any other cache is
    cleared once it reaches the metadata size cap."""
    from .tables import source_fingerprint

    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        *extra,
        source_fingerprint(sf_dir, *tables),
    )
    if key in cache:
        COUNTS["hits"] += 1
        return cache[key]
    if any(c is cache for c in _REGISTRY):
        evict(cache)  # one live entry — sessions/sf_dirs don't mix
    elif len(cache) >= _METADATA_ENTRIES:
        cache.clear()
    COUNTS["builds"] += 1
    value = cache[key] = build()
    return value


def pin(df, *, eager: bool = True, reset_stats: bool = False):
    """``df`` materialized once for a plan that reads it more than once:
    a localCheckpoint (``eager=False`` defers its job to the first
    action). ``reset_stats=True`` is a parquet round trip instead, for
    the state frame of an iterative self-join loop, whose checkpointed
    statistics would square per join level (CLAUDE.md); the returned
    plan reads the directory lazily, so it lives until :func:`clear_all`
    or process exit."""
    if reset_stats:
        out = tempfile.mkdtemp(prefix="agri_pin_")
        _PIN_DIRS.append(out)
        df.write.mode("overwrite").parquet(out)
        return df.sparkSession.read.parquet(out)
    return df.localCheckpoint(eager=eager)


def _checkpoint_rdd(jdf):
    """A localCheckpointed Dataset's persisted RDD: its analyzed plan is
    a LogicalRDD wrapping it."""
    return jdf.queryExecution().analyzed().rdd()


def _sweep_pin_dirs() -> None:
    while _PIN_DIRS:
        shutil.rmtree(_PIN_DIRS.pop(), ignore_errors=True)


atexit.register(_sweep_pin_dirs)


def _unpersist_value(value: Any) -> None:
    """Drop the localCheckpoint RDD blocks a memoized value holds (via
    the LogicalRDD's checkpointed RDD; catalog.clearCache() and
    df.unpersist() never reach them). Tuples/lists of DataFrames are
    walked."""
    items = value if isinstance(value, (tuple, list)) else (value,)
    for item in items:
        jdf = getattr(item, "_jdf", None)
        if jdf is None:
            continue
        try:
            _checkpoint_rdd(jdf).unpersist(False)
        except Exception:
            pass


def evict(cache: dict, key: Any = None) -> None:
    """Remove one entry (or all) from a data memo, unpersisting any
    checkpointed blocks the evicted value holds."""
    if key is None:
        for v in list(cache.values()):
            _unpersist_value(v)
        cache.clear()
    elif key in cache:
        _unpersist_value(cache.pop(key))


def clear_all() -> None:
    """Empty every registered data memo and release every pin — the
    bench sample boundary: every persistent RDD is a pin's checkpoint
    (the data memos' included), so all of them are unpersisted."""
    from pyspark import SparkContext

    for cache in _REGISTRY:
        cache.clear()
    sc = SparkContext._active_spark_context
    if sc is not None and sc._jsc is not None:  # started, not stopped
        # a Scala iterator over a copy: iterating py4j's JavaMap is
        # ~25x slower, even when the map is empty
        rdds = sc._jsc.sc().getPersistentRDDs().values().iterator()
        while rdds.hasNext():
            rdds.next().unpersist(False)
    _sweep_pin_dirs()
