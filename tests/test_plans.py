"""Physical-plan regression tests: the scale properties SURVEY.md §4
commits to, pinned against the actual Catalyst output."""

from __future__ import annotations

import pytest

from agri_market_data_pipeline_spark.plans import (
    has_broadcast_join,
    has_partial_agg,
    pushed_filters,
)
from agri_market_data_pipeline_spark.plans.audit import read_schema_columns
from agri_market_data_pipeline_spark.registry import all_queries


def _q(name):
    return all_queries()[name]


@pytest.fixture(scope="module")
def registry_plans(spark, sf_dir):
    """Every registered query built once, shared by the registry-wide
    plan checks below. Plan build only for batch queries; the streaming
    ops run their bounded replay, so keep the test sf small."""
    import __spark_entry__ as entrymod

    return [
        (name, fn(spark, sf_dir))
        for name, fn in sorted(entrymod.queries().items())
    ]


def test_scan_parquet_pushes_filter_and_prunes_columns(spark, sf_dir):
    df = _q("scan_parquet")(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, f"date filter not pushed: {pushed}"
    cols = read_schema_columns(df)
    assert any(
        c <= {"l_returnflag", "l_quantity", "l_shipdate"} and c for c in cols
    ), f"projection not pruned: {cols}"


def test_dim_joins_broadcast(spark, sf_dir):
    assert has_broadcast_join(_q("join_broadcast_dim")(spark, sf_dir))
    assert has_broadcast_join(_q("agg_price_stats")(spark, sf_dir))


def test_aggregations_have_map_side_partial(spark, sf_dir):
    assert has_partial_agg(_q("agg_price_stats")(spark, sf_dir))
    assert has_partial_agg(_q("dedup_near_minhash")(spark, sf_dir))


def test_topk_avoids_global_sort(spark, sf_dir):
    from agri_market_data_pipeline_spark.plans.audit import explain_str

    txt = explain_str(_q("limit_topk")(spark, sf_dir))
    assert "TakeOrderedAndProject" in txt, txt[:500]


def test_filter_pred_pushdown(spark, sf_dir):
    df = _q("filter_pred")(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed and "o_orderpriority" in pushed


def test_hive_partition_pruning(spark, sf_dir, tmp_path):
    """SURVEY.md §4.1 row 1: the reference's one-file-per-commodity layout
    ≡ partitionBy; a filter on the partition key must prune at the file
    level (PartitionFilters, not a post-scan filter)."""
    from agri_market_data_pipeline_spark.plans.audit import explain_str
    from agri_market_data_pipeline_spark.tables import load

    path = str(tmp_path / "part_by_brand")
    load(spark, sf_dir, "part").write.partitionBy("p_brand").parquet(path)
    df = spark.read.parquet(path).filter("p_brand = 'Brand#13'")
    txt = explain_str(df)
    assert "PartitionFilters" in txt
    assert "Brand#13" in txt.split("PartitionFilters")[1].split("]")[0], txt[:600]
    got = {r.p_brand for r in df.select("p_brand").distinct().collect()}
    assert got == {"Brand#13"}


def test_sampling_is_shuffle_free_before_agg(spark, sf_dir):
    """Hash sampling must stay a row-local filter: exactly the final
    aggregation's exchange, nothing for the sample itself."""
    from agri_market_data_pipeline_spark.plans import exchange_count

    assert exchange_count(_q("sample_hash")(spark, sf_dir)) == 1
    assert exchange_count(_q("sample_stratified")(spark, sf_dir)) == 1


def test_histogram_and_unpivot_single_exchange(spark, sf_dir):
    """Arithmetic binning and the wide→long melt are map-side constructs;
    each plan's only shuffle is the tiny final aggregation."""
    from agri_market_data_pipeline_spark.plans import (
        exchange_count,
        has_partial_agg,
    )

    for name in ("agg_histogram", "agg_unpivot", "agg_vector_centroid"):
        df = _q(name)(spark, sf_dir)
        assert exchange_count(df) == 1, name
        assert has_partial_agg(df), name


def test_sessionize_reuses_one_shuffle(spark, sf_dir):
    """Gaps-and-islands: lag window, running-sum window and the final
    groupBy all hash-partition by user_id — one exchange total."""
    from agri_market_data_pipeline_spark.plans import exchange_count

    assert exchange_count(_q("win_sessionize")(spark, sf_dir)) == 1


def test_scan_orc_pushes_filter_and_prunes(spark, sf_dir):
    from agri_market_data_pipeline_spark.plans import pushed_filters
    from agri_market_data_pipeline_spark.plans.audit import (
        read_schema_columns,
    )

    df = _q("scan_orc")(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, f"ORC date filter not pushed: {pushed}"
    cols = read_schema_columns(df)
    assert any(
        c <= {"l_returnflag", "l_extendedprice", "l_shipdate"} and c
        for c in cols
    ), f"ORC projection not pruned: {cols}"


def test_analytics_batch_plan_properties(spark, sf_dir):
    """The price-analytics family (operators/analytics.py) keeps its
    scale contracts: OHLC is a single-pass partial aggregate (min_by /
    max_by, no per-group sort); the z-score stats table broadcasts back
    onto the fact scan; VWAP broadcasts its dim and partial-aggregates."""
    from agri_market_data_pipeline_spark.plans.audit import explain_str

    ohlc = _q("ts_ohlc")(spark, sf_dir)
    assert has_partial_agg(ohlc)
    assert "Sort" not in explain_str(ohlc).split("HashAggregate")[0]

    assert has_broadcast_join(_q("anomaly_zscore")(spark, sf_dir))
    vwap = _q("agg_vwap")(spark, sf_dir)
    assert has_broadcast_join(vwap)
    assert has_partial_agg(vwap)


def test_pareto_window_runs_over_aggregate_not_fact(spark, sf_dir):
    """win_pareto_share's global (single-partition) window must sit
    ABOVE the pre-aggregation: the exchange-to-one-partition carries K
    aggregate rows, never fact rows."""
    from agri_market_data_pipeline_spark.plans.audit import explain_str

    txt = explain_str(_q("win_pareto_share")(spark, sf_dir))
    # search the numbered DETAILS section only — the root-first tree
    # header above it lists operator names (always HashAggregate-first)
    # and would make a whole-text find() vacuously pass
    details = txt[txt.find("\n(1) ") :]
    i_agg = details.find("HashAggregate")
    i_single = details.find("SinglePartition")
    assert i_agg != -1 and i_single != -1
    # details are numbered scan-first, so the aggregate over the fact
    # scan must appear BEFORE the to-one-partition exchange that feeds
    # the window
    assert i_agg < i_single, details[:800]


def test_bloom_runtime_filter_injected_and_scoped(spark, sf_dir):
    """join_bloom_runtime really plants the runtime bloom filter on the
    probe side of a shuffle join, and its threshold overrides do not
    leak into the session (hostile-session rule)."""
    from agri_market_data_pipeline_spark.plans.audit import explain_str

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    txt = explain_str(_q("join_bloom_runtime")(spark, sf_dir))
    assert "might_contain" in txt.lower(), txt[:600]
    assert "SortMergeJoin" in txt
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def test_no_query_emits_non_atomic_columns(registry_plans):
    """Driver-canonicalizer guard: pandas-based result comparators
    cannot hash array/map/struct cells (numpy arrays are unhashable in
    sort_values), so NO registered query may emit one — serialized
    strings or long form instead (tools/schema_audit.py is the ad-hoc
    twin)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = []
    for name, df in registry_plans:
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not bad, f"non-atomic output columns: {bad}"


def test_new_family_operators_single_exchange(spark, sf_dir):
    """Scale signatures pinned: each of these runs exactly ONE shuffle
    exchange — pack_sequences (shard window + manifest agg share the
    shard hash), dim_scd2_build (both windows + change filter share the
    user_id hash), text_embed_hash (one groupBy after the explode)."""
    from agri_market_data_pipeline_spark.operators.analytics import (
        dim_scd2_build,
    )
    from agri_market_data_pipeline_spark.operators.textstats import (
        text_embed_hash,
    )
    from agri_market_data_pipeline_spark.operators.traindata import (
        pack_sequences,
    )
    from agri_market_data_pipeline_spark.plans.audit import exchange_count

    for fn in (pack_sequences, dim_scd2_build, text_embed_hash):
        assert exchange_count(fn(spark, sf_dir)) == 1, fn.__name__


def test_sim_knn_join_exchange_budget(spark, sf_dir):
    """The IVF-blocked kNN join's serve stage is bounded at three
    exchanges past the quantizer checkpoint: the candidate equi-join on
    cell_id (≤2 — AQE may broadcast one side) and the per-vector rank
    window's hash on vec_id. No plan node may be a cartesian/nested-loop
    product — the blocking must stay an equi-join."""
    from agri_market_data_pipeline_spark.operators.similarity import (
        sim_knn_join,
    )
    from agri_market_data_pipeline_spark.plans.audit import exchange_count

    df = sim_knn_join(spark, sf_dir)
    assert exchange_count(df) <= 3
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # The candidate join must be a hash equi-join on cell_id (the
    # only BroadcastNestedLoopJoins allowed are the one-row broadcast
    # folds that carry the quantizer array to every row).
    assert "BroadcastHashJoin [cell_id" in plan or "SortMergeJoin [cell_id" in plan


def test_round3_operators_plan_shapes(spark, sf_dir):
    """Round-3 families' scale signatures: IVF-PQ is broadcast-only
    (2 exchanges — the two 1-row build aggs; candidates never
    sort-merge; top-k via per-partition heaps), the z-order audit is
    agg-only (no joins beyond 1-row broadcasts, bounded exchanges),
    incremental dedup never degenerates to a cartesian product."""
    from agri_market_data_pipeline_spark.operators.dedup import (
        dedup_incremental,
    )
    from agri_market_data_pipeline_spark.operators.similarity import (
        sim_search_ivfpq,
    )
    from agri_market_data_pipeline_spark.operators.storage_layout import (
        layout_zorder_skipping,
    )
    from agri_market_data_pipeline_spark.plans.audit import exchange_count

    df = sim_search_ivfpq(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert exchange_count(df) <= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan

    df = layout_zorder_skipping(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert exchange_count(df) <= 4
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan

    df = dedup_incremental(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert exchange_count(df) <= 8
    assert "CartesianProduct" not in plan


def test_sim_knn_join_no_driver_count_action(spark, sf_dir):
    """K=⌈√n⌉ must come from the parquet footer metadata, not a
    driver-side df.count() scan job (VERDICT r3 item 1). Constructing
    the query with DataFrame.count monkey-patched to raise proves no
    count action fires; the footer count itself must match Spark's."""
    from unittest import mock

    from pyspark.sql import DataFrame

    from agri_market_data_pipeline_spark.operators import similarity
    from agri_market_data_pipeline_spark.tables import load, table_row_count

    n_footer = table_row_count(sf_dir, "embeddings")
    assert n_footer == load(spark, sf_dir, "embeddings").count()

    similarity._KNN_CELL_CACHE.clear()
    with mock.patch.object(
        DataFrame,
        "count",
        side_effect=AssertionError("driver-side count action in sim_knn_join"),
    ):
        df = similarity.sim_knn_join(spark, sf_dir)
    assert df.limit(1).collect() is not None


def test_sim_knn_join_recall_reuses_trained_quantizer(spark, sf_dir):
    """The recall twin must reuse the memoized trained quantizer — the
    k-means train stage (seed filter + folds + checkpoint) runs once
    per evaluation, not once per caller (ADVICE r3)."""
    from agri_market_data_pipeline_spark.operators import similarity

    similarity._KNN_CELL_CACHE.clear()
    similarity.sim_knn_join(spark, sf_dir)
    assert len(similarity._KNN_CELL_CACHE) == 1
    ((key, arr),) = similarity._KNN_CELL_CACHE.items()
    with_twin = similarity.sim_knn_join_recall(spark, sf_dir)
    assert similarity._KNN_CELL_CACHE.get(key) is arr  # no retrain
    assert with_twin.columns == ["n_hits", "n_exact", "recall"]


def test_no_registered_query_has_unbounded_global_window(registry_plans):
    """Engine-wide invariant (VERDICT r3 item 3 + r10 item 6): an
    empty-partition Window may only rank a limit/aggregate-bounded
    frame — over a fact scan it is a latent single-task global sort at
    100 TB — and an AGGREGATE-bounded one must additionally appear in
    plan_audit's GLOBAL_WINDOW_OK allowlist naming its
    constant-cardinality grain (|grouping keys| is only a bound when
    the grain saturates; a future op must not silently inherit the
    exemption). Walks the optimized logical plan of every registered
    query."""
    import importlib.util
    import os

    from agri_market_data_pipeline_spark.plans.audit import (
        global_window_bounds,
    )

    spec = importlib.util.spec_from_file_location(
        "plan_audit_tool",
        os.path.join(os.path.dirname(__file__), "..", "tools", "plan_audit.py"),
    )
    pa = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pa)

    bad = []
    for name, df in registry_plans:
        kinds = global_window_bounds(df)
        for kind, w in kinds:
            if kind == "unbounded":
                bad.append(f"{name}: unbounded {w}")
        n_agg = sum(1 for k, _ in kinds if k == "aggregate")
        if n_agg and name not in pa.GLOBAL_WINDOW_OK:
            bad.append(f"{name}: aggregate-bounded global window not in "
                       "GLOBAL_WINDOW_OK")
        elif n_agg and n_agg > pa.GLOBAL_WINDOW_OK[name][1]:
            bad.append(
                f"{name}: {n_agg} aggregate-bounded global windows vs "
                f"{pa.GLOBAL_WINDOW_OK[name][1]} documented")
    assert not bad, f"global-window violations: {bad}"


def test_unbounded_global_window_detector_catches_globalized_sort(spark, sf_dir):
    """Negative control: a deliberately-globalized window over a fact
    scan must trip the detector (so a future edit can't silently
    globalize a bounded one)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from agri_market_data_pipeline_spark.plans.audit import (
        unbounded_global_windows,
    )
    from agri_market_data_pipeline_spark.tables import load

    df = load(spark, sf_dir, "lineitem").withColumn(
        "rn", F.row_number().over(W.orderBy("l_orderkey"))
    )
    assert unbounded_global_windows(df), "detector missed a global fact sort"


def test_rag_probe_selection_uses_takeordered(spark):
    """The RAG serve path's probe-cell selection must plan as
    TakeOrderedAndProject (per-partition heaps), never a global sort —
    at a large centroid count a globalized orderBy().collect() would
    pull every cell score through one partition (VERDICT r5 item 7)."""
    from agri_market_data_pipeline_spark.jobs.rag_pipeline import (
        _probe_cells_df,
    )

    cells = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(64)],
        "cell_id long, cvec array<double>",
    )
    q = spark.createDataFrame([([1.0, 0.5],)], "qvec array<double>")
    df = _probe_cells_df(cells, q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:800]
    assert "Exchange rangepartitioning" not in plan, plan[:800]


def test_coverage_check_green_and_readme_counts_in_sync():
    """tools/coverage_check.py must exit 0: every SURVEY §2 id covered
    AND the README's registry/oracle counts match the live registry
    (VERDICT r4 item 5 — counts drifted silently; now they can't)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "coverage_check.py")],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stdout + out.stderr
    assert "README counts in sync" in out.stdout, out.stdout


def test_join_geo_radius_is_cell_blocked_equi_join(spark, sf_dir):
    """The radius join must stay a hash equi-join on the grid-cell keys
    with the haversine as a residual condition — never a cartesian or
    nested-loop product (the oracle brute-forces all pairs; the Spark
    plan must not). One exchange for the final per-customer aggregate,
    which must have a map-side partial."""
    from agri_market_data_pipeline_spark.operators.geo import join_geo_radius
    from agri_market_data_pipeline_spark.plans.audit import exchange_count

    df = join_geo_radius(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert has_partial_agg(df)
    assert exchange_count(df) <= 2


def test_round7_operators_plan_shapes(spark, sf_dir):
    """r7 families' scale signatures: the Theil-Sen pair join is
    key-blocked (never a cartesian product), the sweep-line op carries
    exactly its one grain-bounded global window, k-core never touches
    facts inside the peel loop (bounded exchange count end-to-end),
    and the kNN classifier inherits the cell-blocked join (no
    cartesian, no broadcast nested loop)."""
    from agri_market_data_pipeline_spark.operators.analytics import (
        ts_theil_sen,
    )
    from agri_market_data_pipeline_spark.operators.graph import graph_kcore
    from agri_market_data_pipeline_spark.operators.similarity import (
        ml_knn_classify,
    )
    from agri_market_data_pipeline_spark.operators.timeseries import (
        ts_session_concurrency,
    )
    from agri_market_data_pipeline_spark.plans.audit import exchange_count

    df = ts_theil_sen(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    df = ts_session_concurrency(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # r8: the sweep is day-split — the session-grain cumulative sum must
    # be a day-partitioned window (hashpartitioning on day_no), and the
    # only SinglePartition left is the K-row (K = #days) opening-balance
    # window, grain-bounded by the calendar rather than the data.
    assert plan.count("SinglePartition") <= 1
    assert "windowspecdefinition(day_no" in plan, plan[:2000]
    assert "hashpartitioning(day_no" in plan, plan[:2000]
    assert "CartesianProduct" not in plan

    df = graph_kcore(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # r12: the peel loop is now ONE lazy window-relaxation plan over the
    # checkpointed edge frame (no per-round checkpoints), so every
    # round's node-keyed window exchange is visible here instead of
    # being truncated by materialization — bound is rounds-proportional
    # (2 per peel round + serving), not data-proportional.
    assert exchange_count(df) <= 2 * 4 + 3

    df = ml_knn_classify(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the only BNLJs are sim_knn_join's one-row broadcast folds (the
    # cells-array dim); candidate generation itself is the cell-keyed
    # equi-join — assert the hash join is present
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_round8_operators_plan_shapes(spark, sf_dir):
    """r8 families' scale signatures: the Mann-Kendall pair join is
    grain-blocked (no cartesian), LPA's rounds never re-scan facts
    (bounded exchange count on the post-checkpoint serving plan), the
    covariance pair expansion is join-free until its (i, j) partial agg
    (no SortMergeJoin of exploded rows), and the winsorized sketch has
    no per-group sort of fact rows (no data-proportional
    SinglePartition)."""
    from agri_market_data_pipeline_spark.operators.quality_stats import (
        agg_winsorized_mean_sketch,
    )
    from agri_market_data_pipeline_spark.operators.similarity import (
        agg_vector_covariance,
    )
    from agri_market_data_pipeline_spark.operators.timeseries import (
        ts_mann_kendall,
    )

    df = ts_mann_kendall(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan

    df = agg_vector_covariance(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # pair expansion is local
    assert "partial_" in plan  # (i, j) sums combine map-side

    df = agg_winsorized_mean_sketch(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # rng + cuts broadcast

    from agri_market_data_pipeline_spark.operators.graph import (
        graph_label_propagation,
    )

    df = graph_label_propagation(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # build-then-iterate: the checkpointed edge list means the label
    # rounds NEVER rescan the fact tables — nation (n-row) is the only
    # parquet input left in the serving plan. (The rounds do carry
    # node-cardinality exchanges — bounded by rounds x n, fine.)
    assert "lineitem" not in plan and "orders" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan


def test_graph_khop_serving_plan_is_state_sized(spark, sf_dir):
    """r12 folded form: the fact tables reduce ONCE into the
    checkpointed edge frame, so the serving plan must not rescan them;
    the whole k-round relaxation is a single array-aggregate over the
    one-row nation-grain fold (no per-round state parquet, no
    cartesian products of data-proportional frames)."""
    from agri_market_data_pipeline_spark.operators.graph import (
        graph_khop_distance,
    )

    df = graph_khop_distance(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan and "orders" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan
    # the k-round fold is ONE expression over the one-row frames: the
    # serving plan explodes the zipped (node, distance) arrays and
    # reads the checkpointed edge aggregate, never a per-round state
    # parquet or a rounds-deep join tree
    assert "explode" in plan and "arrays_zip" in plan
    assert "Scan ExistingRDD" in plan  # checkpointed edge aggregate
