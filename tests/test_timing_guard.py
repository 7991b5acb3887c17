"""One timing loop: `observe.measure`.

Every timed sample of `bench.py` and the tools goes through
`agri_market_data_pipeline_spark.observe.measure` — one untimed warm
run, timed noop writes, `memo.clear_all()` and `gc.collect()` after
each — so a median means the same in every tool. Hand-rolled loops
disagreed on warm-up, eviction and counters. A clock read in `bench.py`
or `tools/*.py` outside the allowlist is such a loop coming back. Pure
AST, no Spark session.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
CLOCKS = {"time", "perf_counter", "monotonic"}
# (module, top-level function) -> why it may read the clock itself
ALLOWED = {
    ("bench.py", "_ingest_throughput"): (
        "a throughput, not a query sample: rows/s of one paginated-source "
        "read, run in its own JVM with a calibration probe after each pass"
    ),
    ("tools/selfcheck.py", "main"): (
        "elapsed-time progress print per query; no figure is kept"
    ),
    ("tools/agmarknet_demo.py", "main"): (
        "elapsed-time progress prints of a demo run; no figure is kept"
    ),
}


def _offenses(tree: ast.Module) -> list[tuple[int, str, str]]:
    """(line, enclosing top-level function or '<module>', what) of each
    clock call `time.<clock>()` and each `from time import <clock>`."""
    found = []
    for top in tree.body:
        scope = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.ImportFrom) and node.module == "time":
                found += [
                    (node.lineno, scope, f"from time import {a.name}")
                    for a in node.names
                    if a.name in CLOCKS
                ]
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "time"
                and node.func.attr in CLOCKS
            ):
                found.append((node.lineno, scope, f"time.{node.func.attr}()"))
    return found


def test_scan_flags_clock_reads():
    src = (
        "import time\n"
        "from time import perf_counter\n"
        "def one_run():\n"
        "    t0 = time.time()\n"
        "    def inner():\n"
        "        return time.monotonic()\n"
        "    return time.perf_counter() - t0\n"
        "time.sleep(1)\n"
        "x = time.time_ns\n"
    )
    got = sorted(_offenses(ast.parse(src)))
    assert got == [
        (2, "<module>", "from time import perf_counter"),
        (4, "one_run", "time.time()"),
        (6, "one_run", "time.monotonic()"),
        (7, "one_run", "time.perf_counter()"),
    ], got


def test_harness_times_only_through_measure():
    paths = [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]
    offenders, allowed = [], set()
    for path in paths:
        rel = path.relative_to(ROOT).as_posix()
        for line, scope, what in _offenses(ast.parse(path.read_text(), str(path))):
            if (rel, scope) in ALLOWED:
                allowed.add((rel, scope))
            else:
                offenders.append(f"{rel}:{line} {scope}: {what}")
    assert not offenders, offenders
    # a stale allowance must go: each one names a site that still exists
    assert allowed == set(ALLOWED), allowed
