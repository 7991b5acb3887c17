"""Generated code outlives the query that compiled it: the session's
codegen cache holds the recurring queries' working set, so an operator
that runs again after others compiles nothing; and ts_wavelet_haar
builds as one lazy plan, with no job inside the queries() call."""

from __future__ import annotations

from agri_market_data_pipeline_spark import memo
from agri_market_data_pipeline_spark.registry import all_queries
from agri_market_data_pipeline_spark.session import codegen_compiles
from agri_market_data_pipeline_spark.tables import load


def _run(spark, sf_dir, name: str) -> int:
    """Build and execute one operator from cold data memos; returns the
    classes it compiled."""
    memo.clear_all()
    before = codegen_compiles(spark)
    all_queries()[name](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    return codegen_compiles(spark) - before


def test_repeated_operator_reuses_compiled_classes(spark, sf_dir):
    # Together the three operators compile more classes than Spark's
    # default 100-entry cache holds, which evicted the first
    # operator's classes before it ran again.
    _run(spark, sf_dir, "ts_wavelet_haar")
    between = sum(
        _run(spark, sf_dir, n)
        for n in ("incr_minhash_merge", "incr_ann_upsert")
    )
    assert _run(spark, sf_dir, "ts_wavelet_haar") == 0, between


def test_wavelet_build_submits_no_job(spark, sf_dir):
    # The first read of a parquet path infers its schema with a job;
    # that is the table's, shared by every query, so take it first.
    load(spark, sf_dir, "events")
    sc = spark.sparkContext
    group = "test_wavelet_build_submits_no_job"
    sc.setJobGroup(group, group)
    try:
        all_queries()["ts_wavelet_haar"](spark, sf_dir)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()
