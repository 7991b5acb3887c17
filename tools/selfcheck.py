"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares: row count, column names
(sorted), and an order-insensitive value comparison. Run:

    python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import atexit
import math
import os
import shutil
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from agri_market_data_pipeline_spark.schemas import TABLE_NAMES  # noqa: E402
from agri_market_data_pipeline_spark.session import get_spark  # noqa: E402


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr keeps full precision: we want *exact* double equality,
        # mirroring a value-hash comparison.
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def duckdb_memory_limit() -> str:
    """DuckDB's memory limit for the oracle side: an eighth of physical
    memory. DuckDB's default, 80% of RAM, let three graph oracles grow
    one sf0.1 selfcheck to 6.9 GB, and the kernel killed it beside a
    second run. An eighth leaves room for two selfchecks, each beside
    its get_spark JVM (heap a quarter of RAM, `default_driver_memory`);
    what does not fit spills to the temp directory."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{ram_mb // 8}MB"


def duckdb_temp_dir() -> str:
    """A fresh spill directory under the first of SPARK_LOCAL_DIRS (the
    system temp directory when unset), removed when the process exits."""
    base = os.environ.get("SPARK_LOCAL_DIRS") or tempfile.gettempdir()
    base = base.split(",")[0]
    os.makedirs(base, exist_ok=True)
    spill = tempfile.mkdtemp(prefix="selfcheck-duckdb-", dir=base)
    atexit.register(shutil.rmtree, spill, True)
    return spill


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append("\x1f".join(norm_cell(r[i]) for i in order))
    out.sort()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"FAIL  unknown query name(s): {sorted(unknown)}")
        return 1

    spark = get_spark("selfcheck")
    hostile = bool(os.environ.get("SPARK_GRAFT_HOSTILE"))
    if hostile:
        print("HOSTILE session: Asia/Kolkata + ANSI re-set before EVERY query")
    con = duckdb.connect(config={
        "memory_limit": duckdb_memory_limit(),
        "temp_directory": duckdb_temp_dir(),
    })
    for t in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'"
        )

    failures = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        if hostile:
            # full-registry robustness sweep: every query must stay
            # oracle-green when handed a session with determinism-
            # hostile conf, which the __spark_entry__ wrappers'
            # ensure_runtime_conf is supposed to own. The wrapper RESETS
            # the conf, so re-poison before each query (exactly what
            # tests/test_hostile_session.py does for its probe subset).
            spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
            spark.conf.set("spark.sql.ansi.enabled", "true")
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            if len(srows) == 0:
                print(f"      WARNING: {name} returned 0 rows")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
        except Exception:
            print(f"FAIL  {name}: duckdb error")
            traceback.print_exc()
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            # informative: surface dtype-level divergence between engines
            try:
                sd = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
                od = dict(zip(rel.columns, [str(t) for t in rel.types]))
                norm = {"bigint": "BIGINT", "int": "INTEGER", "double": "DOUBLE",
                        "float": "FLOAT", "string": "VARCHAR", "date": "DATE",
                        "timestamp": "TIMESTAMP", "timestamp_ntz": "TIMESTAMP",
                        "boolean": "BOOLEAN"}
                for cname, spark_t in sd.items():
                    duck_t = od.get(cname, "?")
                    if norm.get(spark_t, spark_t) != duck_t:
                        print(f"      dtype note {name}.{cname}: spark={spark_t} duckdb={duck_t}")
            except Exception:
                pass
            s = canon(srows, scols)
            o = canon(orows, ocols)
            if s != o:
                diffs = [(a, b) for a, b in zip(s, o) if a != b]
                problems.append(f"{len(diffs)} differing rows; first: spark={diffs[0][0]!r} oracle={diffs[0][1]!r}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"ok    {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
