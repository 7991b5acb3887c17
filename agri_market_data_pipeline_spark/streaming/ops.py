"""Streaming operators, driver-checkable form.

Each operator builds a readStream over the events table, applies the
streaming transformation, runs it to completion with
Trigger.AvailableNow into a memory sink, and returns the sink table —
a bounded, deterministic replay whose result an ANSI-SQL oracle can
reproduce on the batch table. Checkpoint dirs are fresh per run
(exactly-once within the run; production pins a durable
checkpointLocation, which IS the reference's data/progress.json made
transactional).
"""

from __future__ import annotations

import itertools
import os
import tempfile

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
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

_run_counter = itertools.count()

def _events_stream_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def events_stream(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """File-source stream over the events table (bounded replay —
    SURVEY.md §2.B stream_source_rate). Normalizes ts to TIMESTAMP
    (session-zone, UTC) for either physical layout of the file — INT64
    TIMESTAMP(NANOS) or plain timestamp[us] (see tables.load_events).
    `glob` widens the file match for callers that stage extra files
    next to the table (stream_interval_join_outer's watermark-flush
    sentinel)."""
    from pyspark.sql.types import TimestampNTZType

    from ..tables import events_ts_is_nanos

    nanos = events_ts_is_nanos(sf_dir)
    if nanos:
        # TIMESTAMP(NANOS) footers are rejected by the vectorized reader —
        # declare long + nanosAsLong and rebuild (same trick as tables.load).
        # The flag is consulted at schema-conversion/plan-creation time, so
        # scope it to the readStream...load() call and restore: a session-
        # wide set would silently change how later raw parquet reads
        # interpret nanos timestamps (see tables.load_events).
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = _events_stream_schema(LongType())
    else:
        prev = None
        schema = _events_stream_schema(TimestampNTZType())
    # The file-stream source requires a directory; point it at sf_dir and
    # glob-select the events file.
    try:
        raw = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", glob)
            .load(sf_dir)
        )
    finally:
        if nanos:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    if nanos:
        # integral `div` (see tables.load): float division would lose µs.
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


# Stateful streaming pays a state-store init per shuffle partition per
# micro-batch — at bounded-replay volume 32 partitions is ~5× slower
# than 8 for identical results. The partition count is baked into the
# (throwaway) checkpoint, so scoping it per run is safe; a durable
# production stream sizes it to expected state volume instead.
_STREAM_SHUFFLE = 8


def run_to_table(df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Execute a streaming frame to completion (AvailableNow) into a
    memory sink; return the materialized result. The throwaway
    checkpoint dir is deleted after termination (a durable run pins a
    real checkpointLocation instead)."""
    import shutil

    spark = df.sparkSession
    sink = f"mem_{name}_{next(_run_counter)}_{os.getpid()}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", _STREAM_SHUFFLE)
        q = (
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(ckpt, ignore_errors=True)
    # copy the result out and drop the sink view — otherwise every
    # streaming run pins its full materialized output for the session
    out = pin(spark.table(sink))
    spark.catalog.dropTempView(sink)
    return out


@query(
    "stream_source_rate",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS cnt,
       {sql_dsum("value")} AS sum_value
FROM events
GROUP BY event_type
""",
)
def stream_source_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded stream replay of the events feed: readStream → aggregate →
    AvailableNow. The exactly-the-batch-answer result is the point —
    the micro-batch pipeline computes what the batch query would
    (the reference's incremental harvest ≡ its full re-harvest)."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("cnt"), dsum("value").alias("sum_value")
    )
    return run_to_table(agg, "src_rate", "complete")


@query(
    "stream_tumbling_agg",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS cnt,
       {sql_dsum("value")} AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour tumbling event-time windows (the reference's 3-hour cron
    window made event-time-correct)."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("cnt"), dsum("value").alias("sum_value"))
    out = agg.select(
        F.col("w.start").alias("window_start"), "event_type", "cnt", "sum_value"
    )
    return run_to_table(out, "tumbling", "complete")


@query(
    "stream_sliding_agg",
    oracle="""
WITH k AS (SELECT unnest(generate_series(0, 3)) AS i),
w AS (
    SELECT time_bucket(INTERVAL '30 minutes', e.ts)
               - k.i * INTERVAL '30 minutes' AS window_start,
           e.event_id
    FROM events e CROSS JOIN k
)
SELECT window_start, COUNT(*) AS cnt
FROM w
GROUP BY window_start
""",
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 2-hour windows every 30 minutes — each event
    lands in 4 overlapping windows. The oracle reproduces Spark's
    epoch-aligned window set by fanning each event out to its 4 bucket
    starts."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "2 hours", "30 minutes").alias("w")).agg(
        F.count("*").alias("cnt")
    )
    out = agg.select(F.col("w.start").alias("window_start"), "cnt")
    return run_to_table(out, "sliding", "complete")


@query(
    "stream_session_window",
    oracle="""
WITH marks AS (
    SELECT user_id, ts, event_id,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL '2 hours'
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
sess AS (
    SELECT user_id, ts, event_id,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_no
    FROM marks
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM sess
GROUP BY user_id, session_no
""",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (2-hour inactivity gap) per user —
    session_window() merges event-time intervals in streaming state; the
    oracle is the classic lag/cumsum sessionization, which is also the
    exact batch semantics of the operator."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy(
        F.session_window("ts", "2 hours").alias("w"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    out = agg.select(
        "user_id", F.col("w.start").alias("session_start"), "n_events"
    )
    return run_to_table(out, "session", "complete")


@query(
    "stream_sliding_session",
    oracle="""
WITH k AS (SELECT unnest(generate_series(0, 3)) AS i),
sliding AS (
    SELECT 'sliding' AS kind,
           time_bucket(INTERVAL '30 minutes', e.ts)
               - k.i * INTERVAL '30 minutes' AS window_start,
           COUNT(*) AS cnt
    FROM events e CROSS JOIN k
    GROUP BY 2
),
marks AS (
    SELECT user_id, ts, event_id,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL '2 hours'
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
sess AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_no
    FROM marks
),
sessions AS (
    SELECT 'session' AS kind, MIN(ts) AS window_start, COUNT(*) AS cnt
    FROM sess
    GROUP BY user_id, session_no
)
SELECT * FROM sliding UNION ALL SELECT * FROM sessions
""",
)
def stream_sliding_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY.md §2.B's combined `stream_sliding_session` id: both window
    families over one replay — 2h/30min sliding windows (kind='sliding')
    and 2h-gap per-user session windows (kind='session') in a single
    result. The finer-grained `stream_sliding_agg` /
    `stream_session_window` operators are the per-family entries."""
    sliding = stream_sliding_agg(spark, sf_dir).select(
        F.lit("sliding").alias("kind"), "window_start", "cnt"
    )
    sessions = stream_session_window(spark, sf_dir).select(
        F.lit("session").alias("kind"),
        F.col("session_start").alias("window_start"),
        F.col("n_events").alias("cnt"),
    )
    return sliding.unionByName(sessions)


@query(
    "stream_watermark_late",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       COUNT(*) AS cnt
FROM events
GROUP BY 1
""",
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed aggregation (1-hour bounded lateness): state
    for windows older than watermark is dropped, late rows beyond the
    bound are discarded. On an in-order bounded replay nothing is late,
    so the oracle is the full aggregate — the *eviction* behavior (a
    2-micro-batch run where a late row is dropped) is pinned
    deterministically in tests/test_streaming.py, where batch boundaries
    are controlled."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
    )
    out = agg.select(F.col("w.start").alias("window_start"), "cnt")
    # update mode: with a single AvailableNow batch, append mode would
    # hold every window back behind the (not yet advanced) watermark.
    return run_to_table(out, "watermark", "update")


@query(
    "stream_dedup",
    oracle="""
SELECT event_type, COUNT(*) AS cnt
FROM events
GROUP BY event_type
""",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once-ish dedup: the input is deliberately
    doubled (two readStreams of the same files unioned — simulating the
    reference's checkpoint-replay re-append, SURVEY.md §1.3.5), then
    dropDuplicates on the event key collapses replays across
    micro-batches. Production uses dropDuplicatesWithinWatermark so the
    key state ages out — that aging (replay after eviction re-emits,
    replay within the watermark is suppressed) is pinned in
    tests/test_streaming.py::test_dedup_within_watermark_state_ages_out."""
    a = events_stream(spark, sf_dir)
    b = events_stream(spark, sf_dir)
    deduped = a.unionByName(b).dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("cnt"))
    return run_to_table(agg, "dedup", "complete")


_SPIKE_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_spikes", LongType()),
    ]
)
def _spike_fn(key, pdf_iter, state):
    """Per-user running state: count + exact running sum (value scaled to
    integer cents so state math is exact). A spike = value > 2× running
    mean of all PRIOR events for that user."""
    import math

    (user_id,) = key
    # GroupState.get is a PROPERTY (returns the tuple); calling it
    # raises on the recovery path — which only runs when a later epoch
    # finds existing state, exactly what the kill/resume test drives.
    cnt, total_cents = state.get if state.exists else (0, 0)
    n_spikes = 0
    n_events = 0
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["ts", "event_id"])  # deterministic order
        for v in pdf["value"]:
            # floor(x+0.5): explicit half-up — Python round() is
            # half-to-even while SQL round() is half-away, and the oracle
            # must compute the identical integer
            cents = int(math.floor(v * 100 + 0.5))
            if cnt > 0 and cents * cnt > 2 * total_cents:
                n_spikes += 1
            cnt += 1
            total_cents += cents
            n_events += 1
    state.update((cnt, total_cents))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n_events], "n_spikes": [n_spikes]}
    )


# The spike alert as a running window: both stateful paths
# (stream_stateful, stream_stateful_tws) must hash-match it.
_SPIKE_SQL = """
WITH ordered AS (
    SELECT user_id, event_id, ts,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           COUNT(*) OVER w AS prior_cnt,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS prior_total
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN prior_cnt > 0 AND cents * prior_cnt > 2 * prior_total
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_spikes
FROM ordered
GROUP BY user_id
"""


@query("stream_stateful", oracle=_SPIKE_SQL)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-key streaming state via applyInPandasWithState: a
    price-spike alert (value > 2× the user's running mean). State is
    (count, exact integer total) so results are reproducible bit-for-bit
    by the SQL running-window oracle. The shape generalizes to any
    per-entity monitor over the reference's feed (price spikes per
    market×commodity).

    Spark 4's successor API has a registered twin —
    stream_stateful_tws (transformWithStateInPandas +
    StatefulProcessor, runtime-gated on the python `protobuf` package
    its driver runner needs) — hash-checked against this same oracle."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_stream(spark, sf_dir)
    result = (
        ev.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _spike_fn,
            outputStructType=_SPIKE_OUT_SCHEMA,
            stateStructType="cnt long, total long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_table(result, "stateful", "update")


def _tws_available(spark: SparkSession) -> bool:
    """True iff the Spark 4 transformWithStateInPandas path can actually
    run here: the API exists on GroupedData AND the python `protobuf`
    package its driver-side state-server runner imports is installed.
    Version-probe, not version-parse — forward-compatible."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        return False
    from pyspark.sql.group import GroupedData

    return hasattr(GroupedData, "transformWithStateInPandas")


def _make_spike_processor():
    """Build the StatefulProcessor twin of _spike_fn (deferred import:
    the stateful_processor module only exists on Spark ≥ 4.0). The
    arithmetic is IDENTICAL — integer-cents running totals, half-up
    rounding, (ts, event_id) ordering — so both engines' paths and the
    SQL oracle compute the same integers; the pure-Python parity is
    pinned by tests/test_streaming.py::test_tws_processor_matches_
    apply_in_pandas_fn."""
    import math

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class SpikeProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "spike", "cnt long, total long"
            )

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            cnt, total_cents = (
                self._state.get() if self._state.exists() else (0, 0)
            )
            n_spikes = 0
            n_events = 0
            for pdf in rows:
                pdf = pdf.sort_values(["ts", "event_id"])
                for v in pdf["value"]:
                    cents = int(math.floor(v * 100 + 0.5))
                    if cnt > 0 and cents * cnt > 2 * total_cents:
                        n_spikes += 1
                    cnt += 1
                    total_cents += cents
                    n_events += 1
            self._state.update((cnt, total_cents))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n_events],
                    "n_spikes": [n_spikes],
                }
            )

        def close(self) -> None:
            pass

    return SpikeProcessor()


@query("stream_stateful_tws", oracle=_SPIKE_SQL)
def stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_stateful on Spark 4's successor stateful API:
    transformWithStateInPandas + StatefulProcessor (named value state
    via handle.getValueState, explicit timeMode, composable timers) —
    the API applyInPandasWithState is deprecated in favor of. Same
    spike-alert semantics, same integer-cents state, SAME oracle SQL as
    stream_stateful: whichever path executes must hash-match it.

    Gated at runtime (_tws_available): the TWS driver runner needs the
    python `protobuf` package, which this container does not ship — in
    that case this falls back to the applyInPandasWithState plan
    (result-identical by the parity test on the processor body), so the
    query is green everywhere and exercises the new API wherever it
    can actually run. The near-duplication is pinned in CI by
    tests/test_streaming.py::test_tws_fallback_is_self_documenting:
    it asserts _tws_available is False in THIS container and that the
    fallback's analyzed streaming plan is identical to
    stream_stateful's — if a future container gains protobuf, that
    test flips and forces the real path to be exercised."""
    ev = events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", "value"
    )
    if _tws_available(spark):  # pragma: no cover - container lacks protobuf
        result = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_make_spike_processor(),
            outputStructType=_SPIKE_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    else:
        from pyspark.sql.streaming.state import GroupStateTimeout

        result = ev.groupBy("user_id").applyInPandasWithState(
            _spike_fn,
            outputStructType=_SPIKE_OUT_SCHEMA,
            stateStructType="cnt long, total long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    return run_to_table(result, "stateful_tws", "update")


@query(
    "stream_foreach_batch_sink",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS cnt,
       {sql_dsum("value")} AS sum_value
FROM events
GROUP BY event_type
""",
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production sink pattern (SURVEY.md §3: the reference's whole
    loop ≡ a foreachBatch job): each micro-batch lands in the store as
    `batch=<id>` partitioned parquet — idempotent under retry because a
    replayed batch overwrites its own partition (dynamic partition
    overwrite), the transactional trick that fixes the reference's
    append-twice window (fetch_data.py:158-162) without Delta. The
    read-back aggregate hash-matching the source proves no batch was
    lost or doubled."""
    import shutil

    store = tempfile.mkdtemp(prefix="fbsink_")
    try:
        ev = events_stream(spark, sf_dir).select("event_type", "value")

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            (
                batch_df.withColumn("batch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch")
                .parquet(os.path.join(store, "data"))
            )

        ckpt = tempfile.mkdtemp(prefix="ckpt_fb_")
        try:
            q = (
                ev.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

        data_dir = os.path.join(store, "data")
        if os.path.isdir(data_dir):
            back = spark.read.parquet(data_dir)
        else:
            # zero micro-batches (empty source): the store was never
            # created; the correct result is the empty aggregate, not a
            # missing-path error.
            back = spark.createDataFrame([], "event_type string, value double")
        return pin(
            back.groupBy("event_type").agg(
                F.count("*").alias("cnt"), dsum("value").alias("sum_value")
            )
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)


@query(
    "stream_interval_join",
    oracle="""
SELECT c.event_id,
       COUNT(*) AS n_purchases_5m
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL 5 MINUTE
WHERE c.event_type = 'click'
GROUP BY c.event_id
""",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join with watermarks: clicks joined to the
    same user's purchases within the following 5 minutes. The watermark +
    time-bound condition is what lets Spark expire join state; the
    bounded replay's inner-join result equals the batch interval join
    (join_interval_events' inner form)."""
    clicks = events_stream(spark, sf_dir)
    purchases = events_stream(spark, sf_dir)
    c = (
        clicks.filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("c_event_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = c.join(
        p,
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 5 MINUTES")),
        "inner",
    )
    out = run_to_table(
        joined.select("c_event_id"), "interval_join", "append"
    )
    return out.groupBy(F.col("c_event_id").alias("event_id")).agg(
        F.count("*").alias("n_purchases_5m")
    )


def _sentineled_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage a temp dir holding a symlink to events.parquet plus ONE
    sentinel row 2 hours past max(ts), written in the SAME physical ts
    layout as the original file (NANOS vs micros — the schema must
    match the declared stream schema). The sentinel's event_type never
    matches any operator filter; its only job is to push the global
    watermark past every real event so OUTER-join state fully expires
    and the null rows emit before the bounded replay terminates —
    without it, clicks in the final watermark-delay window would stay
    pending forever and the batch oracle could never match. Production
    streams don't need this: their watermark advances with the next
    real batch; a bounded replay has no next batch."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..tables import load, table_path

    src = table_path(sf_dir, "events")
    max_ts = load(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    flush_ts = max_ts + datetime.timedelta(hours=2)
    schema = pq.read_schema(src)
    arrays = []
    for field in schema:
        if field.name == "ts":
            arrays.append(pa.array([flush_ts], type=field.type))
        elif pa.types.is_integer(field.type):
            arrays.append(pa.array([-1], type=field.type))
        elif pa.types.is_floating(field.type):
            arrays.append(pa.array([0.0], type=field.type))
        else:
            arrays.append(
                pa.array(["__watermark_flush__"], type=field.type)
            )
    staged = tempfile.mkdtemp(prefix="ev_sentinel_")
    os.symlink(os.path.abspath(src), os.path.join(staged, "events.parquet"))
    # version 2.6 preserves TIMESTAMP(NANOS); older coerces to micros
    pq.write_table(
        pa.Table.from_arrays(arrays, schema=schema),
        os.path.join(staged, "events_flush.parquet"),
        version="2.6",
    )
    return staged


@query(
    "stream_interval_join_outer",
    oracle="""
SELECT c.event_id,
       COUNT(p.user_id) AS n_purchases_5m
FROM events c
LEFT JOIN events p
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL 5 MINUTE
WHERE c.event_type = 'click'
GROUP BY c.event_id
""",
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the join mode real
    CDC/funnel pipelines depend on (VERDICT r8 item 5): every click
    appears in the result, with its following-5-minute purchase count
    or an explicit ZERO when the watermark expires the click's state
    unmatched (Spark emits the null-padded row at state eviction; the
    batch oracle's LEFT JOIN + COUNT(p.user_id) is the exact twin).
    The watermark-flush sentinel (see _sentineled_events_dir) makes
    the bounded replay's final eviction complete, so the result is the
    FULL batch left-outer interval join including every null-emission
    row — not just the prefix an arbitrary replay horizon happens to
    expire."""
    import shutil

    staged = _sentineled_events_dir(spark, sf_dir)
    try:
        clicks = events_stream(spark, staged, glob="events*.parquet")
        purchases = events_stream(spark, staged, glob="events*.parquet")
        # The flush sentinel must REACH each side's watermark node or it
        # can't advance the watermark — and merely writing
        # withWatermark-before-filter doesn't achieve that, because
        # Catalyst pushes a non-event-time filter below the watermark
        # node (measured: eventTime.max stuck at the max CLICK ts and
        # the max-ts zero-purchase click stayed pending forever). So the
        # sentinel type is kept IN both filters; it can never join (its
        # user_id matches nothing and its ts is past every window) and
        # its own state row never expires (wm = flush−delay < flush), so
        # it adds no output — the post-sink event_id >= 0 guard is
        # defense against a future Spark emitting pending state at
        # termination.
        c = (
            clicks.withWatermark("ts", "10 minutes")
            .filter(
                F.col("event_type").isin("click", "__watermark_flush__")
            )
            .select(
                F.col("event_id").alias("c_event_id"),
                F.col("user_id").alias("c_user_id"),
                F.col("ts").alias("c_ts"),
            )
        )
        p = (
            purchases.withWatermark("ts", "10 minutes")
            .filter(
                F.col("event_type").isin("purchase", "__watermark_flush__")
            )
            .select(
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("p_ts"),
            )
        )
        joined = c.join(
            p,
            (F.col("p_user_id") == F.col("c_user_id"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 5 MINUTES")),
            "leftOuter",
        )
        out = run_to_table(
            joined.select("c_event_id", "p_user_id"),
            "interval_join_outer",
            "append",
        )
    finally:
        shutil.rmtree(staged, ignore_errors=True)
    return (
        out.filter(F.col("c_event_id") >= 0)
        .groupBy(F.col("c_event_id").alias("event_id"))
        .agg(F.count("p_user_id").alias("n_purchases_5m"))
    )


@query(
    "stream_static_join",
    oracle=f"""
SELECT c.c_mktsegment AS segment,
       e.event_type,
       COUNT(*) AS cnt,
       {sql_dsum("e.value")} AS sum_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the pattern every event pipeline
    runs first: the unbounded stream joins a bounded dimension
    (customer segment) BEFORE aggregating. Spark plans the static side
    as a broadcast against every micro-batch, so the stream never
    shuffles for the join and no join state accumulates (unlike
    stream_interval_join's stream-stream state, this is stateless
    enrichment); the complete-mode aggregate then hash-matches the
    batch twin. At 100 TB/day the dimension refreshes by re-reading
    the table per batch — the broadcast is per-microbatch, so a dim
    update is picked up on the next trigger."""
    from ..tables import load

    ev = events_stream(spark, sf_dir)
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    joined = ev.join(F.broadcast(dim), "user_id")
    agg = joined.groupBy("segment", "event_type").agg(
        F.count("*").alias("cnt"), dsum("value").alias("sum_value")
    )
    return run_to_table(agg, "static_join", "complete")


_STK_K = 5


@query(
    "stream_topk",
    oracle=f"""
WITH counts AS (
  SELECT user_id, COUNT(*) AS cnt,
         {sql_dsum("value")} AS sum_value
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT user_id, cnt, sum_value,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rnk
  FROM counts
)
SELECT CAST(rnk AS INT) AS rnk, user_id, cnt, sum_value
FROM ranked WHERE rnk <= {_STK_K}
""",
)
def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained top-{_STK_K} leaderboard: complete-mode
    streaming aggregation (running per-user counts) with the rank cut
    applied to the materialized result after AvailableNow replay — the
    live-dashboard pattern where each trigger emits the full refreshed
    board. Complete mode keeps ALL group state, which is exactly why it
    works for a leaderboard (the output IS the state) and why at 100 TB
    the key domain must be bounded — an unbounded-key leaderboard
    switches to update mode + incr_topk_merge's monoid maintenance (or
    the count-min + heap sketch, agg_countmin_sketch). Exactly the
    batch answer, per stream_source_rate's replay argument: the rank
    boundary is deterministic (cnt DESC, user_id)."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy("user_id").agg(
        F.count("*").alias("cnt"), dsum("value").alias("sum_value")
    )
    out = run_to_table(agg, "topk", "complete")
    w = Window.orderBy(F.desc("cnt"), F.asc("user_id"))
    return (
        out.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _STK_K)
        .select("rnk", "user_id", "cnt", "sum_value")
    )


@query(
    "stream_checkpoint_resume",
    oracle=f"""
WITH counts AS (
  SELECT user_id, COUNT(*) AS cnt,
         {sql_dsum("value")} AS sum_value
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT user_id, cnt, sum_value,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rnk
  FROM counts
)
SELECT CAST(rnk AS INT) AS rnk, user_id, cnt, sum_value
FROM ranked WHERE rnk <= {_STK_K}
""",
)
def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-stream RESTART proof, fully oracle-checked: the
    leaderboard aggregation runs as TWO separate streaming query
    lifetimes against one durable checkpoint — epoch 1 sees only half
    the events (event_id % 2 = 0), the query TERMINATES, the other
    half lands, and a NEW query resumes from the checkpoint. The final
    complete-mode output hash-matches the one-shot batch answer over
    ALL events, which is only possible if epoch 1's per-user counts
    were recovered from the state store — the kill/resume contract
    (chk_offset_resume's discipline applied to streaming state). The
    pytest twin (tests/test_streaming.py) additionally pins the
    applyInPandasWithState shape and both state-store providers.

    At 100 TB this is THE operational property: executors die,
    clusters restart, and the leaderboard must continue from state,
    not recount history."""
    import shutil

    from ..tables import load

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    src = tempfile.mkdtemp(prefix="ckres_src_")
    ckpt = tempfile.mkdtemp(prefix="ckres_ckpt_")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        def epoch(name: str) -> str:
            stream = (
                spark.readStream.schema("event_id long, user_id long, value double")
                .format("parquet")
                .load(src)
            )
            agg = stream.groupBy("user_id").agg(
                F.count("*").alias("cnt"), dsum("value").alias("sum_value")
            )
            sink = f"mem_ckres_{name}_{next(_run_counter)}_{os.getpid()}"
            q = (
                agg.writeStream.format("memory")
                .queryName(sink)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return sink

        spark.conf.set("spark.sql.shuffle.partitions", _STREAM_SHUFFLE)
        ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(src)
        s1 = epoch("e1")
        spark.catalog.dropTempView(s1)
        # epoch boundary: the first query object is gone; only the
        # checkpoint (offsets + state store) survives
        ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
        s2 = epoch("e2")
        out = pin(spark.table(s2))
        spark.catalog.dropTempView(s2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    w = Window.orderBy(F.desc("cnt"), F.asc("user_id"))
    return (
        out.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _STK_K)
        .select("rnk", "user_id", "cnt", "sum_value")
    )


@query(
    "stream_upsert_sink",
    oracle="""
WITH latest AS (
  SELECT user_id, ts, event_id, value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY (epoch_us(ts) - 1500000000000000) * 4096
                    + event_id % 4096 DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id AS last_event_id,
       epoch_us(ts) AS last_ts_us, value AS last_value
FROM latest WHERE rn = 1
""",
)
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: every micro-batch is MERGE-upserted into a
    keep-latest-per-user serving table via sinks.merge_upsert (the
    §2.A sink_git_commit machinery driven from foreachBatch) — the
    standard 'stream of changes → current-state table' pattern, with
    the crash-safe two-rename swap and the r7 table lock exercised
    once per micro-batch. stream_foreach_batch_sink proves no batch is
    lost or doubled; THIS proves upsert semantics compose with
    streaming: replaying all events must leave exactly each user's
    newest row, which the oracle recomputes as a window argmax over
    the whole source ON THE SAME PACKED KEY, so 'newest' is total and
    engine-identical.

    Scale: per micro-batch cost is the merge of |batch| rows into the
    keyed table (Delta MERGE in production — the fallback rewrite is
    O(table), documented in sinks.py); the upsert keys hash-partition
    the state exactly like the stateful operators' key space."""
    import shutil

    from ..sources.sinks import merge_upsert

    store = tempfile.mkdtemp(prefix="upsink_")
    target = os.path.join(store, "users")
    try:
        ev = events_stream(spark, sf_dir).select(
            "user_id",
            "event_id",
            "value",
            F.unix_micros("ts").alias("ts_us"),
        )

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch = batch_df.withColumn(
                # pack (ts, event_id mod 4096) into one BIGINT, with a
                # 2017 epoch offset so the product stays under 2^63
                # (raw µs * 2^20 overflowed — found the loud ANSI way).
                # The mod-4096 truncation means the packed key alone is
                # NOT total for same-user same-microsecond events with
                # event_id ≡ (mod 4096) — absent at every SF but exactly
                # the passes-by-luck class the r7 tiebreaker rule bans —
                # so the full event_id rides along as a second
                # lexicographic order column (ADVICE r7), mirrored in the
                # oracle window's ", event_id DESC".
                "ord",
                F.expr("(ts_us - 1500000000000000) * 4096 + event_id % 4096"),
            )
            merge_upsert(
                batch.sparkSession, target, batch, keys=["user_id"],
                order_col=["ord", "event_id"],
            )

        ckpt = tempfile.mkdtemp(prefix="ckpt_up_")
        try:
            q = (
                ev.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

        if os.path.isdir(target):
            back = spark.read.parquet(target)
        else:  # empty source: correct state is the empty table
            back = spark.createDataFrame(
                [], "user_id long, event_id long, value double, ts_us long"
            )
        return pin(
            back.select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                F.col("ts_us").alias("last_ts_us"),
                F.col("value").alias("last_value"),
            )
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)
