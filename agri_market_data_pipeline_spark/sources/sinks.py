"""Sinks (SURVEY.md §2.A group_partition_by_key, sink_partitioned_append;
§2.B sink_delta_upsert).

The reference's per-commodity CSV layout (fetch_data.py:119-128,
`data/crops/<safe_name(c)>.csv`) is a hand-rolled hive partitioning.
Here the same layout is one declarative write: partitionBy on the key.
Its blind append (at-least-once replay risk) is replaced by
merge_upsert — Delta's MERGE INTO when Delta is on the classpath, and a
pure-parquet keep-latest rewrite otherwise (this container has no
Delta, so the fallback is the tested path)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import pin


def sink_partitioned_append(
    df: DataFrame, path: str, partition_key: str = "Commodity"
) -> None:
    """Append-or-create, one directory per partition value — the Spark
    form of the reference's append_to_crop_csv loop. At 100 TB add a
    coarse second partition level (year) and target ~128 MB files via
    AQE / maxRecordsPerFile instead of per-group driver loops."""
    (
        df.write.mode("append")
        .partitionBy(partition_key)
        .option("maxRecordsPerFile", 5_000_000)
        .format("parquet")
        .save(path)
    )


def delta_merge_conditions(
    keys: list[str], order_col: str | list[str]
) -> tuple[str, str]:
    """Build the MERGE INTO condition strings: (join condition over the
    composite key, matched-update guard that keeps the newest row).
    Pure string construction so the logic is unit-testable without a
    Delta classpath; identifiers are backtick-quoted so keys with
    spaces/reserved words survive. order_col may be a LIST of columns:
    the guard is then the lexicographic newer-or-equal comparison —
    a composite order key keeps 'newest' total when the primary key
    alone admits ties (ADVICE r7: stream_upsert_sink's packed key
    truncates event_id mod 4096)."""
    if not keys:
        raise ValueError("merge_upsert requires at least one key column")
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    if not order_cols:
        raise ValueError("merge_upsert requires at least one order column")

    def q(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"

    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)
    # Lexicographic s >= t over (c1, c2, ...): s.c1 > t.c1 OR
    # (s.c1 = t.c1 AND (s.c2 > t.c2 OR (... AND s.ck >= t.ck)))
    when_matched = f"s.{q(order_cols[-1])} >= t.{q(order_cols[-1])}"
    for c in reversed(order_cols[:-1]):
        when_matched = (
            f"s.{q(c)} > t.{q(c)} OR (s.{q(c)} = t.{q(c)} AND ({when_matched}))"
        )
    # Outer parentheses so the guard composes safely as a sub-expression
    # of a larger condition ('WHEN MATCHED AND ' + guard) — the top-level
    # OR would otherwise rebind under the caller's AND (ADVICE r8).
    if len(order_cols) > 1:
        when_matched = f"({when_matched})"
    return on, when_matched


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API — the correct
    check for non-local schemes (s3a://, hdfs://, …) where the URI's
    path component means nothing to the local filesystem.

    Failures PROPAGATE (ADVICE r6): fs.exists returns False for a
    genuinely absent path, so any exception here is an unresolvable
    scheme, bad credentials, or a transient IO error — and against an
    EXISTING table, degrading those to False would route merge_upsert
    into its first-write branch, whose mode('overwrite') replaces the
    whole table with only the incoming batch. Silent data loss is worse
    than a failed upsert; the caller retries once the fault clears."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str | list[str],
) -> None:
    """Idempotent upsert: keep, per key, the row with the highest
    order_col across existing + incoming data (a LIST of order columns
    compares lexicographically — use one to make 'newest' total when
    the primary order key admits ties).

    Prefers Delta Lake MERGE INTO (transactional, no full rewrite) when
    available; falls back to read-union-dedup-rewrite on plain parquet —
    correct but O(table); the fallback exists so the semantics are
    testable anywhere."""
    if not keys:
        raise ValueError("merge_upsert requires at least one key column")
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    # Delta path: ONLY the import and is-this-a-delta-table detection are
    # guarded — a real MERGE failure (concurrency, duplicate source keys)
    # must propagate, never fall through to a parquet rewrite that would
    # clobber the _delta_log.
    delta_table = None
    try:  # pragma: no cover - Delta not shipped in this container
        from delta.tables import DeltaTable

        try:
            delta_table = DeltaTable.forPath(spark, target_path)
        except Exception:
            delta_table = None  # target absent or not a Delta table
    except ImportError:
        pass
    if delta_table is not None:  # pragma: no cover
        # Delta rejects multiple source rows per target key: pre-dedup the
        # batch to its newest row per key (same keep-latest the fallback
        # applies).
        w = Window.partitionBy(*keys).orderBy(
            *[F.desc(c) for c in order_cols]
        )
        latest_updates = (
            updates.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        cond, when_matched = delta_merge_conditions(keys, order_col)
        (
            delta_table.alias("t")
            .merge(latest_updates.alias("s"), cond)
            .whenMatchedUpdateAll(condition=when_matched)
            .whenNotMatchedInsertAll()
            .execute()
        )
        return

    # First-write probe via the filesystem, not a failed read: a thrown
    # AnalysisException fires a failed-query event that every registered
    # ExecutionListener (e.g. an Observation's) logs as an ERROR while
    # re-resolving the vanished path — pure log noise on a normal path.
    # Spark normalizes file URIs to BOTH 'file:///x' and 'file:/x' forms;
    # a fixed-width prefix slice mangles the short form ('file:/tmp/x' →
    # 'mp/x'), making an existing table look like a first write and the
    # overwrite silently drop it. Parse the URI properly — and derive a
    # LOCAL probe path only for file:-scheme/plain paths: for s3:// etc.
    # the URI path ('/t') is a local-filesystem coincidence, so probe
    # those through the Hadoop FileSystem API instead (ADVICE r5).
    import contextlib
    from urllib.parse import urlparse

    from .snapshots import table_lock

    parsed = urlparse(target_path)
    local_fs = parsed.scheme in ("", "file")
    with contextlib.ExitStack() as stack:
        if local_fs:
            probe = parsed.path if parsed.scheme == "file" else target_path
            old_dir = probe + ".old"
            # Serialize the whole read-merge-swap: without this, two
            # concurrent merge_upserts both read the same base and the
            # last rename wins — a classic lost update (ADVICE r6). The
            # link-based lock raises ConcurrentPublishError on contention
            # and steals only dead holders, same policy as
            # SnapshotStore.publish. The lock file sits beside the
            # table, so a first write into a fresh path needs its
            # parent directory before the lock can be taken.
            os.makedirs(os.path.dirname(os.path.abspath(probe)), exist_ok=True)
            stack.enter_context(table_lock(probe + ".lock"))
            if not os.path.exists(probe) and os.path.exists(old_dir):
                # a prior swap crashed between its two renames — the data
                # is intact under .old; finish that swap before merging
                os.rename(old_dir, probe)
            exists = os.path.exists(probe)
        else:
            exists = _hadoop_path_exists(spark, target_path)
        if exists:
            existing = spark.read.parquet(target_path)
            merged = existing.unionByName(updates, allowMissingColumns=True)
        else:
            merged = updates
        w = Window.partitionBy(*keys).orderBy(
            *[F.desc(c) for c in order_cols]
        )
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if not local_fs:  # pragma: no cover - no object store in tests
            # Object stores have no atomic directory rename: there the
            # transactional answer is a real table format (the Delta path
            # above) or SnapshotStore's manifest swap. Keep the simple
            # rewrite, materialized first because Spark cannot read and
            # overwrite the same path in one job.
            pin(latest).write.mode("overwrite").parquet(target_path)
            return
        _swap_local(latest, probe, old_dir)


def _swap_local(latest: DataFrame, probe: str, old_dir: str) -> None:
    """Crash-safe rewrite: stage the new table beside the target, then
    swap via two renames. No window exists where the data is only
    half-written at the visible path (the in-place overwrite's
    failure mode — delete-then-die loses the table); a crash between
    the renames leaves .old intact and merge_upsert's recovery branch
    completes the swap on the next call. Staging also removes the
    localCheckpoint copy the in-place form needed: source and
    destination differ, so Spark streams the merge directly to disk.
    Caller holds the table_lock, so no two swaps interleave.
    Known limitation: between the two renames a concurrent READER sees
    no table at the visible path for a few µs — writers that must
    serve readers mid-publish use SnapshotStore's manifest swap."""
    import glob
    import re
    import shutil
    import time
    import uuid

    # A SIGKILL after the staging write runs no finally, leaking its
    # .stage-<uuid> dir forever. Sweep stale siblings here — matching
    # ONLY this table's 8-hex stage slot so a sibling table whose name
    # extends this one's is never touched, and skipping dirs younger
    # than a grace window in case a pre-lock-era writer's staging dir is
    # still live (same pattern as scans._xml_mirror). glob metacharacters
    # in the table path ([, ?, *) are escaped on BOTH sides — the regex
    # already did, the glob previously matched nothing (ADVICE r6).
    slot = re.compile(re.escape(probe) + r"\.stage-[0-9a-f]{8}$")
    for stale in glob.glob(glob.escape(probe) + ".stage-*"):
        if not slot.match(stale):
            continue
        try:
            age = time.time() - os.stat(stale).st_mtime
        except OSError:
            continue
        if age > 3600:  # 1 h grace for a concurrent writer
            shutil.rmtree(stale, ignore_errors=True)

    stage = f"{probe}.stage-{uuid.uuid4().hex[:8]}"
    try:
        latest.write.mode("overwrite").parquet(stage)
        shutil.rmtree(old_dir, ignore_errors=True)
        if os.path.exists(probe):
            os.rename(probe, old_dir)
        os.rename(stage, probe)
        shutil.rmtree(old_dir, ignore_errors=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
