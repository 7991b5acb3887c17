"""observe.measure — the one timing loop of bench.py and the tools: a
data memo is rebuilt in every run (no timed sample inherits the warm
run's build), nothing stays pinned after it returns, and the record
carries the samples, the build/execute split and the counters."""

from __future__ import annotations

from functools import partial

from agri_market_data_pipeline_spark import memo, observe
from agri_market_data_pipeline_spark.operators.dedup import _MINHASH_BANDS_CACHE
from agri_market_data_pipeline_spark.registry import all_queries


def test_measure_rebuilds_data_memos_and_releases_pins(spark, sf_dir):
    build = partial(all_queries()["dedup_near_minhash"], spark, sf_dir)
    # fill the metadata memos (table plans), which outlive clear_all
    build().write.format("noop").mode("overwrite").save()
    memo.clear_all()
    builds = memo.COUNTS["builds"]

    m = observe.measure(spark, build, 2)

    assert len(m.runs) in (2, 4)  # 2 more only when the spread is > 1.5x
    assert memo.COUNTS["builds"] - builds == len(m.runs) + 1
    assert [r.memo_builds for r in (m.warm, *m.runs)] == [1] * (len(m.runs) + 1)
    assert not _MINHASH_BANDS_CACHE
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().isEmpty()

    assert m.jobs > 0 and m.tasks >= m.jobs
    for r in (m.warm, *m.runs):
        assert r.build_s > 0 and r.exec_s > 0 and r.py4j_calls > 0
        assert r.compiles >= 0 and r.py_cpu_s >= 0 and r.memo_hits >= 0
    assert m.samples == [r.build_s + r.exec_s for r in m.runs]
    assert min(m.samples) <= m.median <= max(m.samples)
