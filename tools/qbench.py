"""Isolated per-query bench: bench.py's protocol (the session warm-up,
the calibration probe and observe.measure's samples) for an arbitrary
subset of queries.

Usage: python tools/qbench.py name1 name2 ...  [-n RUNS]

Prints one line per query: median, samples, normalized (median /
calibration probe median), and the untimed warm run's job, task and
codegen-compile counts (classes the code generator compiled, i.e.
codegen-cache misses), its Python-worker CPU seconds (py_cpu=), its
memo builds and reuses (memo=<builds>/<hits>, from memo.COUNTS) and
the py4j round trips its plan build (the queries() call) made (py4j=).
--split adds build vs execute time and the compiles, worker CPU, memo
and py4j counts of each timed run. For triage only — the committed
BENCH_DETAIL.json comes from bench.py's full run.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from agri_market_data_pipeline_spark import observe  # noqa: E402
from agri_market_data_pipeline_spark.registry import all_queries  # noqa: E402
from agri_market_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("-n", type=int, default=3, help="timed runs per query")
    ap.add_argument(
        "--split",
        action="store_true",
        help="also report build (queries() call) vs execute (noop) time",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("qbench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    observe.warm_session(spark, sf_dir, args.names)
    calibs = [observe.calib_run(spark) for _ in range(3)]
    calib = statistics.median(calibs)
    print(f"calibration_sec={calib:.3f} samples={[round(c,3) for c in calibs]}")

    for name in args.names:
        m = observe.measure(spark, partial(queries[name], spark, sf_dir), args.n)
        w, runs = m.warm, m.runs
        med = m.median
        msg = (
            f"{name:40s} median={med:6.3f}  norm={med / calib:6.2f}"
            f"  jobs={m.jobs} tasks={m.tasks} compiles={w.compiles}"
            f"  py_cpu={w.py_cpu_s:.2f}  memo={w.memo_builds}/{w.memo_hits}"
            f"  py4j={w.py4j_calls}"
            f"  samples={[round(t, 3) for t in m.samples]}"
        )
        if args.split:
            msg += (
                f"  build={[round(r.build_s, 3) for r in runs]}"
                f"  exec={[round(r.exec_s, 3) for r in runs]}"
                f"  run_compiles={[r.compiles for r in runs]}"
                f"  run_py_cpu={[round(r.py_cpu_s, 2) for r in runs]}"
                f"  run_memo={[f'{r.memo_builds}/{r.memo_hits}' for r in runs]}"
                f"  run_py4j={[r.py4j_calls for r in runs]}"
            )
        print(msg)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
