"""One way to materialize: `memo.pin`.

An intermediate an operator reads more than once is pinned through
`memo.pin` — a localCheckpoint, or with `reset_stats` a parquet round
trip — so `memo.clear_all` can release it at the bench sample boundary.
A direct `.localCheckpoint()`, `.cache()`, `.persist()` or
`.checkpoint()` elsewhere in the package strands its blocks until a JVM
GC happens to run (3 to 12 checkpointed RDDs per query, measured with
`getPersistentRDDs` after `clear_all`). The scan covers `bench.py` and
`tools/*.py` too: their samples end with `memo.clear_all()`, which
releases a pin of theirs as well, so a planted input is frozen as
parquet instead. Pure AST, no Spark session.
"""

from __future__ import annotations

import ast
import pathlib

import agri_market_data_pipeline_spark

PKG = pathlib.Path(agri_market_data_pipeline_spark.__file__).parent
ROOT = PKG.parent
PIN_METHODS = {"localCheckpoint", "cache", "persist", "checkpoint"}
RETIRED = {"_materialized", "_STATE_DIRS", "_sweep_state_dirs"}
# (module, method) -> why the site may pin without the helper
ALLOWED = {
    ("sources/paginated_api.py", "persist"): (
        "transient: the fetched pages are persisted only while both "
        "outputs are pinned from them, then unpersisted in a finally "
        "block, so the feed is fetched once and nothing outlives the call"
    ),
}


def _offenses(tree: ast.AST) -> list[tuple[int, str]]:
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in PIN_METHODS
        ):
            found.append((node.lineno, node.func.attr))
        name = getattr(node, "id", None) or getattr(node, "attr", None)
        if isinstance(node, (ast.FunctionDef, ast.alias)):
            name = node.name
        if name in RETIRED:
            found.append((node.lineno, name))
    return found


def test_scan_flags_direct_pins():
    src = (
        "a = df.localCheckpoint(eager=True)\n"
        "b = df.cache()\n"
        "c = df.persist()\n"
        "d = df.checkpoint()\n"
        "e = pin(df, eager=False)\n"
        "f = df.unpersist()\n"
        "from .graph import _materialized\n"
    )
    got = sorted(_offenses(ast.parse(src)))
    assert got == [
        (1, "localCheckpoint"),
        (2, "cache"),
        (3, "persist"),
        (4, "checkpoint"),
        (7, "_materialized"),
    ], got


def _scanned() -> list[tuple[str, pathlib.Path]]:
    """The package's modules (named relative to it), then `bench.py`
    and `tools/*.py` (named relative to the repository)."""
    harness = [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]
    return [(p.relative_to(PKG).as_posix(), p) for p in sorted(PKG.rglob("*.py"))] + [
        (p.relative_to(ROOT).as_posix(), p) for p in harness
    ]


def test_every_pin_goes_through_memo_pin():
    offenders, allowed = [], []
    for rel, path in _scanned():
        if rel == "memo.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        for line, what in _offenses(tree):
            if (rel, what) in ALLOWED:
                allowed.append((rel, what))
            else:
                offenders.append(f"{rel}:{line} {what}")
    assert not offenders, offenders
    # one site per allowance: a second direct pin in the same module
    # needs its own reason
    assert sorted(allowed) == sorted(ALLOWED), allowed
