"""Isolated per-query bench: replicate bench.py's protocol (warm
session, table warm-up, one untimed warm run, median of N timed noop
runs, calibration probe) for an arbitrary subset of queries.

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
import gc
import os
import statistics
import sys
import time

from py4j.protocol import MEMORY_COMMAND_NAME

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from agri_market_data_pipeline_spark import memo  # noqa: E402
from agri_market_data_pipeline_spark.registry import all_queries  # noqa: E402
from agri_market_data_pipeline_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
)


def python_worker_cpu_s(spark) -> float:
    """CPU seconds (user and system, reaped children included) used so
    far by the JVM's Python descendants: the worker daemon and the
    workers it forked, read from /proc."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                text = fh.read()
        except OSError:
            continue
        pid, fields = int(entry), text.rsplit(")", 1)[1].split()
        names[pid] = text[text.index("(") + 1:text.rindex(")")]
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        children.setdefault(int(fields[1]), []).append(pid)
    total, todo = 0, list(children.get(spark._jvm.ProcessHandle.current().pid(), []))
    while todo:
        pid = todo.pop()
        if names[pid].startswith("python"):
            total += ticks[pid]
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def count_py4j_calls(spark, build):
    """(build(), py4j round trips it made): the gateway client's
    send_command is wrapped for the call only. py4j's object-release
    messages are not counted: one is sent whenever Python's garbage
    collector frees a Java proxy, possibly one of an earlier query's,
    so they made the same build's count vary by hundreds between runs."""
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, [0]

    def counting_send(command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting_send
    try:
        return build(), calls[0]
    finally:
        del client.send_command  # back to the class's method


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

    from agri_market_data_pipeline_spark.schemas import TABLE_NAMES
    from agri_market_data_pipeline_spark.tables import load

    for t in TABLE_NAMES:
        load(spark, sf_dir, t).write.format("noop").mode("overwrite").save()

    from bench import _calib_run  # noqa: E402

    _calib_run(spark)
    calibs = [_calib_run(spark) for _ in range(3)]
    calib = statistics.median(calibs)
    print(f"calibration_sec={calib:.3f} samples={[round(c,3) for c in calibs]}")

    def job_stats() -> tuple[int, int]:
        """(job count, total task count) so far — deterministic
        counters immune to machine noise."""
        st = spark.sparkContext.statusTracker()
        jids = st.getJobIdsForGroup(None)
        tasks = 0
        for j in jids:
            ji = st.getJobInfo(j)
            if ji is None:
                continue
            for s in ji.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numTasks
        return len(jids), tasks

    for name in args.names:
        fn = queries[name]

        def one_run() -> tuple[float, float, int, float, str, int]:
            c0, p0 = codegen_compiles(spark), python_worker_cpu_s(spark)
            m0 = dict(memo.COUNTS)
            t0 = time.time()
            df, py4j = count_py4j_calls(spark, lambda: fn(spark, sf_dir))
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            compiled = codegen_compiles(spark) - c0
            py_cpu = python_worker_cpu_s(spark) - p0
            memo_use = "/".join(
                str(memo.COUNTS[k] - m0[k]) for k in ("builds", "hits")
            )
            spark.catalog.clearCache()
            # bench.py's sample boundary (r13): evict data memos so
            # every sample pays its own index/state builds.
            memo.clear_all()
            gc.collect()
            return t1 - t0, t2 - t1, compiled, py_cpu, memo_use, py4j

        j0, t0n = job_stats()
        _, _, warm_compiled, warm_py_cpu, warm_memo, warm_py4j = one_run()
        j1, t1n = job_stats()
        runs = [one_run() for _ in range(args.n)]
        tot = [b + e for b, e, *_ in runs]
        med = statistics.median(tot)
        msg = (
            f"{name:40s} median={med:6.3f}  norm={med / calib:6.2f}"
            f"  jobs={j1 - j0} tasks={t1n - t0n} compiles={warm_compiled}"
            f"  py_cpu={warm_py_cpu:.2f}  memo={warm_memo}  py4j={warm_py4j}"
            f"  samples={[round(t, 3) for t in tot]}"
        )
        if args.split:
            msg += (
                f"  build={[round(r[0], 3) for r in runs]}"
                f"  exec={[round(r[1], 3) for r in runs]}"
                f"  run_compiles={[r[2] for r in runs]}"
                f"  run_py_cpu={[round(r[3], 2) for r in runs]}"
                f"  run_memo={[r[4] for r in runs]}"
                f"  run_py4j={[r[5] for r in runs]}"
            )
        print(msg)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
