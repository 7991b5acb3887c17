"""memo.py — the data-memo registry bench.py clears between timed
samples (VERDICT r12 item 2): eviction must actually drop the
localCheckpoint RDD blocks (catalog.clearCache() never sees them), and
operators must rebuild correctly after a clear (the first timed sample
after the untimed warm-up pays the build from scratch)."""

from __future__ import annotations

from agri_market_data_pipeline_spark import memo


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_clear_all_unpersists_checkpoint_blocks(spark):
    base = _n_persistent(spark)
    df = spark.range(10_000).selectExpr("id", "id * 2 AS v").localCheckpoint(
        eager=True
    )
    pair = (
        spark.range(100).localCheckpoint(eager=True),
        "not-a-dataframe",
    )
    cache = memo.register({})
    try:
        cache["a"] = df
        cache["b"] = pair  # tuple values (the _PQ_INDEX_CACHE shape)
        assert _n_persistent(spark) >= base + 2
        memo.clear_all()
        assert not cache
        # clear_all may also evict operator memos populated by earlier
        # tests (session-scoped Spark), so <= not ==
        assert _n_persistent(spark) <= base
    finally:
        # remove by IDENTITY — list.remove uses ==, and an emptied
        # dict equals every other emptied registry entry
        memo._REGISTRY[:] = [c for c in memo._REGISTRY if c is not cache]


def test_evict_single_key_leaves_others(spark):
    base = _n_persistent(spark)
    cache = memo.register({})
    try:
        cache["keep"] = spark.range(10).localCheckpoint(eager=True)
        cache["drop"] = spark.range(10).localCheckpoint(eager=True)
        assert _n_persistent(spark) == base + 2
        memo.evict(cache, "drop")
        assert "keep" in cache and "drop" not in cache
        assert _n_persistent(spark) == base + 1
        # the surviving frame is still executable
        assert cache["keep"].count() == 10
        memo.evict(cache, "missing")  # no-op
        assert _n_persistent(spark) == base + 1
    finally:
        memo.evict(cache)
        # remove by IDENTITY — list.remove uses ==, and an emptied
        # dict equals every other emptied registry entry
        memo._REGISTRY[:] = [c for c in memo._REGISTRY if c is not cache]


def test_operators_rebuild_after_clear(spark, sf_dir):
    """A memoized index build evicted by clear_all() is rebuilt on the
    next call with identical results — the bench sample boundary."""
    from agri_market_data_pipeline_spark.operators.dedup import (
        _MINHASH_BANDS_CACHE,
        _minhash_bands,
    )

    first = _minhash_bands(spark, sf_dir)
    rows_first = sorted(map(tuple, first.collect()))
    assert _MINHASH_BANDS_CACHE
    memo.clear_all()
    assert not _MINHASH_BANDS_CACHE
    second = _minhash_bands(spark, sf_dir)
    assert second is not first
    rows_second = sorted(map(tuple, second.collect()))
    assert rows_first == rows_second
    memo.clear_all()


def test_clear_all_releases_operator_pins(spark, sf_dir):
    """Pins an operator makes inside its queries() call are released by
    clear_all(), not only memo entries, so no checkpoint block outlives
    the bench sample boundary. The frames stay referenced here, so a
    JVM GC cannot be what releases them."""
    from agri_market_data_pipeline_spark.registry import all_queries

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    memo.clear_all()
    base = set(persistent())
    queries = all_queries()
    dfs = [
        queries[n](spark, sf_dir)
        for n in ("agg_theta_kmv", "graph_label_propagation")
    ]
    for df in dfs:
        df.collect()
    assert set(persistent()) - base  # the queries pinned something
    memo.clear_all()
    assert not set(persistent()) - base


def test_clear_all_removes_round_trip_dirs(spark):
    import os

    df = memo.pin(spark.range(3), reset_stats=True)
    path = memo._PIN_DIRS[-1]
    assert df.count() == 3 and os.path.isdir(path)
    memo.clear_all()
    assert not os.path.exists(path)


def test_memo_keys_and_mirror_paths_are_built_in_one_place():
    """Only memo.py and tables.py build a memo key from applicationId
    or a mirror path under the temp dir: every other module goes
    through memo.cached / tables.mirror, so each memo and mirror is
    keyed on the source fingerprint (pure AST scan, no Spark)."""
    import ast
    import pathlib

    pkg = pathlib.Path(memo.__file__).parent
    retired = {
        "_CSV_CACHE", "_ORC_CACHE", "_XML_CACHE", "_PRUNE_CACHE",
        "_COMPACT_CACHE", "_MANIFEST_CACHE", "_BUCKETED_READY",
        "_sf_tag", "_complete",
    }
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            name = getattr(node, "attr", None) or getattr(node, "id", None)
            if isinstance(node, ast.FunctionDef):
                name = node.name
            if name in retired:
                offenders.append(f"{rel}:{node.lineno} {name}")
            if rel in ("memo.py", "tables.py"):
                continue
            if name in ("applicationId", "gettempdir"):
                offenders.append(f"{rel}:{node.lineno} {name}")
    assert not offenders, offenders
