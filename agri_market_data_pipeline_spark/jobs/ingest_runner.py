"""End-to-end incremental ingestion job — the reference's whole pipeline
(fetch_data.py:133-168 + .github/workflows/run.yml) as one idempotent
Spark job.

Per run (≡ one cron trigger, run.yml:6):

1. resume from the offset checkpoint           (chk_offset_resume)
2. fetch new pages, distributed + throttled    (src_paginated_api,
   src_retry_backoff, rate_limit, skip_empty_page)
3. clean: coerce dates/prices, drop bad rows   (cast_date_coerce,
   cast_double_coerce, filter_required_nonnull)
4. dedup + upsert into the partitioned store   (dedup_exact /
   merge_upsert — fixes the reference's at-least-once re-append)
5. record dead-lettered pages, advance the checkpoint

The reference publishes by `git push` (sink_git_commit); here the store
itself is the publication: the upsert rewrite is atomic at the
table-directory level (Delta MERGE in production gives true
transactions + time travel — the git-history analog).

Run a deterministic demo (no network, fake feed):

    python -m agri_market_data_pipeline_spark.jobs.ingest_runner /tmp/agri_store
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import clean_agmarknet
from ..schemas import AGMARKNET_RAW_SCHEMA
from ..sources.checkpoint import OffsetCheckpoint
from ..sources.paginated_api import FetchFn, read_paginated_api
from ..sources.sinks import merge_upsert


def run_incremental_ingest(
    spark: SparkSession,
    fetch: FetchFn,
    store_dir: str,
    *,
    max_offset: int,
    limit: int = 1000,
    pages_per_run: int = 50,
    num_partitions: int = 8,
    pace: float = 1.0,
) -> dict:
    """One trigger's worth of ingestion; safe to re-run after any crash
    (the upsert dedups replayed pages). Returns run stats."""
    ckpt = OffsetCheckpoint(os.path.join(store_dir, "progress.json"))
    start = ckpt.load()
    if start >= max_offset:
        return {"start": start, "end": start, "rows": 0, "dead_pages": 0}
    end = min(start + pages_per_run * limit, max_offset)

    records, dead = read_paginated_api(
        spark,
        fetch,
        start_offset=start,
        max_offset=end,
        limit=limit,
        schema=AGMARKNET_RAW_SCHEMA,
        num_partitions=num_partitions,
        pace=pace,
    )
    cleaned = clean_agmarknet(records)
    # Natural row identity of the quotation grain (SURVEY.md §1.1);
    # replays of the same page upsert to the same keys -> no duplicates.
    # NULL components are coalesced to a sentinel BEFORE hashing:
    # concat_ws silently drops NULLs, which would collide rows that
    # differ only in which nullable field is NULL.
    key_cols = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
        for c in ("State", "District", "Market", "Commodity", "Variety",
                  "Grade", "Arrival_Date")
    ]
    keyed = cleaned.withColumn("row_key", F.sha2(F.concat_ws("\x1f", *key_cols), 256))
    n_rows = keyed.count()
    # Recency = source offset: a later page carrying a correction to the
    # same quotation key wins. (Arrival_Date would be degenerate here —
    # it is part of the key, so every tie would break arbitrarily.)
    merge_upsert(
        spark,
        os.path.join(store_dir, "prices"),
        keyed.withColumnRenamed("_src_offset", "src_offset"),
        keys=["row_key"],
        order_col="src_offset",
    )

    n_dead = dead.count()
    if n_dead:
        # keyed by offset via upsert: a crash-replay that dead-letters the
        # same page again must not double-count it. Written distributed —
        # no driver round-trip even though failed-page counts are small.
        merge_upsert(
            spark,
            os.path.join(store_dir, "dead_letters"),
            dead,
            keys=["offset"],
            order_col="offset",
        )

    ckpt.save(end)
    return {
        "start": start,
        "end": end,
        "rows": n_rows,
        "dead_pages": n_dead,
    }


def _demo_fetch(offset: int, limit: int) -> list[dict]:
    """Deterministic fake Agmarknet feed for the demo run."""
    crops = ["Apple", "Tea", "Bhindi(Ladies Finger)", "Wheat"]
    out = []
    for i in range(offset, offset + limit):
        if i >= 5000:
            break
        price = 1000 + (i * 37) % 900
        out.append(
            {
                "State": "Kerala" if i % 5 else "Punjab",
                "District": f"District{i % 7}",
                "Market": f"Market{i % 13}",
                "Commodity": crops[i % len(crops)],
                "Variety": "Other",
                "Grade": "FAQ",
                "Arrival_Date": f"{(i % 28) + 1:02d}/01/2023",
                "Min_Price": str(price - 100),
                "Max_Price": str(price + 100),
                "Modal_Price": str(price) if i % 50 else "n/a",  # 2% dirty
                "Commodity_Code": str(17 + i % len(crops)),
            }
        )
    return out


def main() -> int:
    from ..session import get_spark

    store = sys.argv[1] if len(sys.argv) > 1 else "/tmp/agri_store_demo"
    spark = get_spark("ingest-runner")
    spark.sparkContext.setLogLevel("ERROR")
    # Three triggers, as the cron would fire them.
    for trigger in range(3):
        stats = run_incremental_ingest(
            spark, _demo_fetch, store, max_offset=5000,
            limit=500, pages_per_run=4, pace=0.0,
        )
        print(f"trigger {trigger}: {stats}")
    total = spark.read.parquet(os.path.join(store, "prices")).count()
    print(f"store rows: {total}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
