"""Seeded synthetic Agmarknet feed for the ``incremental_ingest`` workload.

The feed is a paginated price API: page ``p`` covers offsets
``[p * limit, (p + 1) * limit)`` and every page's content is a pure
function of ``(seed, page)``, so a replayed page returns the same rows.
Each page has

- ``limit`` quotation rows, one per quotation key, with prices written
  either as ``"1600"`` or ``"1600.0"``;
- about 2% rows whose ``Modal_Price`` does not parse, which cleaning drops;
- about 5% price corrections: rows that repeat the key of a row on an
  earlier page with a new price, which the keep-latest upsert must apply.

One page of each trigger always fails (the fetch raises), so the source
must dead-letter it. :class:`Feed` also computes what the store must hold
after each trigger, which is how the workload checks its output.
"""

from __future__ import annotations

import datetime as dt
import functools

import numpy as np

STATES = ["Kerala", "Punjab", "Gujarat", "Bihar", "Assam", "Odisha", "Goa", "Haryana"]
COMMODITIES = [
    "Apple", "Tea", "Egg", "Wheat", "Onion", "Potato", "Tomato",
    "Bhindi(Ladies Finger)", "Rice", "Maize", "Banana", "Garlic",
]
VARIETIES = ["Other", "Local", "Hybrid"]
GRADES = ["FAQ", "Medium", "Large"]
DIRTY_PRICES = ["n/a", "", "--", "NR"]
KEY_COLUMNS = ("State", "District", "Market", "Commodity", "Variety", "Grade", "Arrival_Date")
_FIRST_DAY = dt.date(2023, 1, 1)
_MARKETS = 200


def _key(i: int) -> tuple:
    """Quotation key of feed row ``i``; a mixed-radix split of ``i``, so
    distinct rows have distinct keys."""
    market = i % _MARKETS
    commodity = (i // _MARKETS) % len(COMMODITIES)
    day = i // (_MARKETS * len(COMMODITIES))
    return (
        STATES[market % len(STATES)],
        f"District{market % 40}",
        f"Market{market}",
        COMMODITIES[commodity],
        VARIETIES[market % len(VARIETIES)],
        GRADES[commodity % len(GRADES)],
        _FIRST_DAY + dt.timedelta(days=day),
    )


def page_rows(seed: int, page: int, limit: int) -> list[dict]:
    """The raw (all-string) records of one page."""
    rng = np.random.default_rng([seed, page])
    base = page * limit
    modal = rng.integers(500, 9000, limit)
    dirty = rng.random(limit) < 0.02
    as_float = rng.random(limit) < 0.5
    n_fix = int(limit * 0.05) if page > 0 else 0
    fix_rows = set(rng.choice(limit, n_fix, replace=False).tolist()) if n_fix else set()
    fix_keys = iter(rng.choice(base, n_fix, replace=False).tolist()) if n_fix else iter(())
    rows = []
    for j in range(limit):
        i = base + j
        key = _key(next(fix_keys) if j in fix_rows else i)
        price = int(modal[j])
        text = f"{price}.0" if as_float[j] else str(price)
        rows.append({
            "State": key[0],
            "District": key[1],
            "Market": key[2],
            "Commodity": key[3],
            "Variety": key[4],
            "Grade": key[5],
            "Arrival_Date": key[6].strftime("%d/%m/%Y"),
            "Min_Price": str(price - 100),
            "Max_Price": str(price + 150),
            "Modal_Price": DIRTY_PRICES[j % len(DIRTY_PRICES)] if dirty[j] else text,
            "Commodity_Code": str(17 + COMMODITIES.index(key[3])),
        })
    return rows


def fetch_page(seed: int, dead_offsets: frozenset, offset: int, limit: int) -> list[dict]:
    """The feed's fetch function (``FetchFn`` once seed and dead pages are
    bound). The workload only asks for whole, aligned pages."""
    if offset in dead_offsets:
        raise OSError(f"HTTP 503 for offset {offset}")
    page, rem = divmod(offset, limit)
    if rem:
        raise ValueError(f"offset {offset} is not aligned to {limit}")
    return page_rows(seed, page, limit)


class Feed:
    """One run's feed: ``triggers`` cron triggers of ``pages_per_trigger``
    pages each, plus a replay of the previous trigger's last page."""

    def __init__(self, seed: int, triggers: int, pages_per_trigger: int, limit: int = 1000):
        self.seed = seed
        self.triggers = triggers
        self.pages_per_trigger = pages_per_trigger
        self.limit = limit
        # The second page of each trigger is dead: not the feed's first
        # page, nor a trigger's last page, which the next trigger replays.
        # Its place is fixed, since where it falls changes how the pages
        # spread over the fetch's partitions; the seed sets the content.
        self.dead_offsets = frozenset(
            (k * pages_per_trigger + 1) * limit for k in range(triggers))
        self.fetch = functools.partial(fetch_page, seed, self.dead_offsets)

    def trigger_range(self, k: int, checkpoint: int) -> tuple[int, int]:
        """[start, end) offsets trigger ``k`` fetches from the saved
        checkpoint: one replayed page, then its own new pages."""
        start = max(0, checkpoint - self.limit) if k > 0 else checkpoint
        return start, checkpoint + self.pages_per_trigger * self.limit

    def expected_store(self) -> list[dict]:
        """Keep-latest rows after each trigger: key -> (Modal_Price,
        src_offset), taken over the clean rows of the pages fetched so far."""
        store: dict = {}
        after: list[dict] = []
        for k in range(self.triggers):
            first = k * self.pages_per_trigger
            for page in range(first, first + self.pages_per_trigger):
                offset = page * self.limit
                if offset in self.dead_offsets:
                    continue
                for row in page_rows(self.seed, page, self.limit):
                    try:
                        price = float(row["Modal_Price"])
                    except ValueError:
                        continue
                    key = tuple(row[c] for c in KEY_COLUMNS[:-1]) + (
                        dt.datetime.strptime(row["Arrival_Date"], "%d/%m/%Y").date(),
                    )
                    store[key] = (price, offset)
            after.append(dict(store))
        return after

    def final_offset(self) -> int:
        return self.triggers * self.pages_per_trigger * self.limit
