"""Benchmark driver: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload iterative_ops --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

One client issues ops serially from this process against ``local[N]``
(N = usable cores), each op starting when the previous one returned.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). ``--workload all`` runs every
workload in its own process and prints a table instead. See README.md in
this directory for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

# setup_s runs from here, the start of the process, to the first timed op.
STARTED = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "agri_market_data_pipeline_spark"
CLK_TCK = os.sysconf("SC_CLK_TCK")
# A copy of the repository's sf0.01 test data (see README.md).
DATA_DIR = os.path.join(HERE, "data", "sf0.01")

# Untimed passes over the op mix (ingest: rounds) before the window, so
# that the JVM has compiled the hot code of every op.
WARMUP_PASSES = {"mandi_analytics": 2, "iterative_ops": 2, "incremental_ingest": 2}
# A run must end within 180 s; stop issuing ops once this much has passed.
DEADLINE_S = 140.0
DRIVER_MEMORY = "2g"

WORKLOADS = {
    "mandi_analytics": [
        "agg_price_stats", "scan_csv", "sql_star_join", "win_moving_avg",
        "ts_holt_winters", "ts_kalman_filter", "udf_scalar_pandas",
    ],
    "iterative_ops": [
        "ts_wavelet_haar", "incr_minhash_merge", "agg_fdr_bh", "incr_ann_upsert",
    ],
    "incremental_ingest": [],
}
PER_QUERY = ["ts_wavelet_haar", "incr_minhash_merge", "agg_fdr_bh"]
INGEST_TRIGGERS = 2
INGEST_PAGES = 4

END_TO_END = {"setup_s": "s", "op_cpu_s": "s", "pass_cpu_s": "s"}
LAYER_UNITS = {
    "operators.plan_s": "s", "operators.py4j_calls": "count",
    "operators.eager_s": "s", "operators.eager_jobs": "count",
    "memo.builds": "count", "harness.evict_s": "s", "harness.other_s": "s",
    "harness.op_s": "s",
    "spark.exec_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.gc_s": "s",
    "spark.cpu_s": "s", "spark.core_util": "ratio", "tables.input_mb": "MB",
    "sources.fetch_s": "s", "sources.pages": "count",
    "sources.dead_pages": "count", "cleaning.clean_s": "s",
    "cleaning.kept_ratio": "ratio", "sinks.upsert_s": "s",
    "sinks.write_mb": "MB", "sinks.write_amp": "ratio",
    "checkpoint.save_s": "s", "read.read_s": "s", "trace.collect_s": "s",
    "ingest.rows_per_s": "1/s", "ingest.read_p50_s": "s",
    "ingest.store_bytes_per_row": "B",
    "session.start_s": "s", "tables.warm_s": "s", "memory.peak_rss_mb": "MB",
    "latency.op_p50_s": "s", "latency.pass_s": "s", "host.steal_share": "ratio",
    "trace.overhead": "ratio",
    **{f"{q}.{m}": u for q in PER_QUERY
       for m, u in (("build_s", "s"), ("exec_s", "s"), ("eager_jobs", "count"))},
}


# --------------------------------------------------------------- environment

def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark inside
    ``work``, and make the package importable by Python workers whatever
    the working directory is. Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Compiler threads that come and go would take their CPU time out of
    # reach of tree_cpu_s, which leaves them out; keep a fixed set.
    java_opts = f"-XX:-UseDynamicNumberOfCompilerThreads -Dderby.system.home={work}"
    submit = [
        "--driver-java-options", java_opts,
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ]
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher included; without
        # -XX:-UsePerfData HotSpot writes /tmp/hsperfdata_<user>
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(paths),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(usable_cores()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit),
    })
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants, read from /proc."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(parents.get(p, []))
    return tree


def _stat(path: str) -> tuple[str, list[str]]:
    """The name and the fields after it of a /proc stat file."""
    with open(path) as fh:
        text = fh.read()
    return text[text.index("(") + 1:text.rindex(")")], text.rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """CPU seconds (user and system, reaped children included) used so
    far by this process and its descendants: the driver, the JVM and the
    Python workers. The JVM's JIT compiler threads are left out: they
    compile whatever has got hot since the JVM started, and about half the
    JVM's CPU time in a run is theirs, falling from op to op as the code
    warms up, whichever op is running."""
    ticks = 0
    for pid in process_tree(os.getpid()):
        try:
            name, fields = _stat(f"/proc/{pid}/stat")
            tids = os.listdir(f"/proc/{pid}/task") if name == "java" else []
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        for tid in tids:
            try:
                name, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                ticks -= int(fields[11]) + int(fields[12])
    return ticks / CLK_TCK


def steal_s() -> float:
    """CPU seconds the hypervisor has given to other machines, summed over
    this machine's CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of each process."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ------------------------------------------------------------------ checking

def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of a result, with columns
    taken in name order and floats compared exactly."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha1(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


# ----------------------------------------------------------------- workloads

class QueryWorkload:
    """A fixed list of registered queries. One op is a query's build
    (``queries()[name](spark, sf_dir)``) plus its final action
    (``collect``); data memos and cached blocks are evicted after each."""

    def __init__(self, names: list[str], data_dir: str):
        from agri_market_data_pipeline_spark import memo
        from agri_market_data_pipeline_spark.registry import all_oracles, all_queries

        self.memo = memo
        self.kinds = list(names)
        queries = all_queries()
        self.queries = {n: queries[n] for n in names}
        self.oracles = all_oracles()
        self.data_dir = data_dir
        self.digests: dict[str, list[tuple[int, str, str]]] = {n: [] for n in names}

    def prepare(self, spark) -> float:
        """Per-session set-up: a pass over every table and the CSV mirror
        that ``scan_csv`` reads."""
        from agri_market_data_pipeline_spark.operators.ingest_parity import _csv_mirror
        from agri_market_data_pipeline_spark.schemas import TABLE_NAMES
        from agri_market_data_pipeline_spark.tables import load

        t0 = time.perf_counter()
        for t in TABLE_NAMES:
            load(spark, self.data_dir, t).write.format("noop").mode("overwrite").save()
        warm_s = time.perf_counter() - t0
        if "scan_csv" in self.kinds:
            _csv_mirror(spark, self.data_dir)
        return warm_s

    def evict(self, spark) -> None:
        self.memo.clear_all()
        spark.catalog.clearCache()

    def op(self, spark, kind: str, tracer, tag: str) -> dict:
        """Run one op. Returns its latency (build + final action) and its
        wall time (first call to the end of the eviction, all tracing work
        included); when traced, also its layer figures."""
        fn = self.queries[kind]
        if tracer is None:
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            df = fn(spark, self.data_dir)
            rows = df.collect()
            latency = time.perf_counter() - t0
            self.evict(spark)
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s() - cpu0
            self.digests[kind].append((*result_digest(df.columns, rows), tag))
            return {"latency": latency, "wall": wall, "cpu": cpu}

        root = tracer.begin("op", kind=kind, tag=tag)
        tracer.tag(f"{tag}:build")
        memo_before = memo_entries(self.memo)
        build = tracer.begin("operators.build", root)
        with tracer.counting() as py4j:
            df = fn(spark, self.data_dir)
        build_s = tracer.end(build)
        tracer.tag(f"{tag}:exec")
        ex = tracer.begin("spark.exec", root)
        rows = df.collect()
        exec_s = tracer.end(ex)
        builds = memo_entries(self.memo) - memo_before
        ev = tracer.begin("harness.evict", root)
        self.evict(spark)
        evict_s = tracer.end(ev)
        col = tracer.begin("trace.collect", root)
        eager = tracer.group_jobs(f"{tag}:build")
        final = tracer.group_jobs(f"{tag}:exec")
        collect_s = tracer.end(col)
        op_s = tracer.end(root)
        self.digests[kind].append((*result_digest(df.columns, rows), tag))

        from perfbench.trace import merged

        # Jobs can overlap, so the build's children are the merged
        # intervals during which at least one eager job ran.
        eager_s = 0.0
        for start, end in merged(
            [(j["start"], j["end"]) for j in eager if j["start"] and j["end"]],
            build["start"], build["end"],
        ):
            tracer.add("operators.eager", build, start, end)
            eager_s += end - start
        layers = {
            "operators.plan_s": build_s - eager_s,
            "operators.py4j_calls": py4j["calls"],
            "operators.eager_s": eager_s,
            "operators.eager_jobs": len(eager),
            "memo.builds": builds,
            "spark.exec_s": exec_s,
            "harness.evict_s": evict_s,
            "trace.collect_s": collect_s,
            "harness.other_s": op_s - build_s - exec_s - evict_s - collect_s,
            "harness.op_s": op_s,
            **spark_counters(final),
        }
        if kind in PER_QUERY:
            layers.update({
                f"{kind}.build_s": build_s,
                f"{kind}.exec_s": exec_s,
                f"{kind}.eager_jobs": len(eager),
            })
        return {"latency": build_s + exec_s, "wall": op_s, "layers": layers}

    def check(self, spark) -> dict[str, int]:
        """Compare every recorded result with the DuckDB oracle on the
        same files; returns failed samples per op kind."""
        import duckdb

        from agri_market_data_pipeline_spark.schemas import TABLE_NAMES

        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            failed = {}
            for kind, got in self.digests.items():
                if not got:
                    continue
                rel = con.sql(self.oracles[kind])
                want = result_digest([d[0] for d in rel.description], rel.fetchall())
                bad = [g for g in got if g[:2] != want]
                for n, digest, tag in bad:
                    print(f"check: {kind} sample {tag} gave {n} rows {digest[:12]}, "
                          f"oracle {want[0]} rows {want[1][:12]}", file=sys.stderr)
                failed[kind] = len(bad)
            return failed
        finally:
            con.close()


class IngestWorkload:
    """Cron-style incremental ingest. A round starts from an empty store
    and runs ``INGEST_TRIGGERS`` triggers. A trigger fetches its pages
    (plus one replayed page), cleans them, keys the rows, upserts them into
    the store and saves the offset checkpoint; a reader query over the
    store follows each trigger."""

    def __init__(self, seed: int, work: str):
        from perfbench.feed import Feed

        self.feed = Feed(seed, INGEST_TRIGGERS, INGEST_PAGES)
        self.expected = self.feed.expected_store()
        self.work = work
        self.kinds = [f"trigger_{k + 1}" for k in range(INGEST_TRIGGERS)]
        self.store_bytes_per_row = 0.0

    def prepare(self, spark) -> float:
        """Per-session set-up: start the Python worker pool that the
        paginated source's ``mapInPandas`` runs in."""
        from pyspark.sql.functions import pandas_udf

        warm = pandas_udf(lambda v: v * 1.0, "double")
        spark.range(1000).select(warm("id")).write.format("noop").mode("overwrite").save()
        return 0.0

    def round(self, spark, tracer, tag: str, check: bool = True) -> list[dict]:
        """One round of triggers on a fresh store; returns one sample per
        trigger and one per read."""
        from agri_market_data_pipeline_spark.sources.checkpoint import OffsetCheckpoint

        store = os.path.join(self.work, f"store-{tag}")
        os.makedirs(store)
        ckpt = OffsetCheckpoint(os.path.join(store, "progress.json"))
        samples = []
        for k in range(INGEST_TRIGGERS):
            trig, read = self.trigger(spark, tracer, store, ckpt, k, f"{tag}:{k + 1}")
            samples += [trig, read]
        if check:
            samples[-2]["failed"] = not self.check_store(spark, store, ckpt)
            self.store_bytes_per_row = dir_bytes(os.path.join(store, "prices")) / max(
                1, len(self.expected[-1]))
        shutil.rmtree(store, ignore_errors=True)
        return samples

    def trigger(self, spark, tracer, store, ckpt, k: int, tag: str) -> tuple[dict, dict]:
        from pyspark.sql import functions as F

        from agri_market_data_pipeline_spark import memo
        from agri_market_data_pipeline_spark.functions.cleaning import clean_agmarknet
        from agri_market_data_pipeline_spark.schemas import AGMARKNET_RAW_SCHEMA
        from agri_market_data_pipeline_spark.sources.paginated_api import read_paginated_api
        from agri_market_data_pipeline_spark.sources.sinks import merge_upsert

        feed = self.feed
        cpu0 = tree_cpu_s()
        spans = Spans(tracer, f"trigger_{k + 1}", tag)
        with spans.phase("checkpoint.load"):
            start, end = feed.trigger_range(k, ckpt.load())
        with spans.phase("sources.fetch"):
            records, dead = read_paginated_api(
                spark, feed.fetch, start_offset=start, max_offset=end,
                limit=feed.limit, schema=AGMARKNET_RAW_SCHEMA,
                num_partitions=usable_cores(), pace=0.0, throttle_s=0.0,
            )
        with spans.phase("cleaning.clean"):
            key_cols = [
                F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
                for c in ("State", "District", "Market", "Commodity", "Variety",
                          "Grade", "Arrival_Date")
            ]
            keyed = clean_agmarknet(records).withColumn(
                "row_key", F.sha2(F.concat_ws("\x1f", *key_cols), 256))
            n_rows = keyed.count()
        with spans.phase("sinks.upsert"):
            merge_upsert(
                spark, os.path.join(store, "prices"),
                keyed.withColumnRenamed("_src_offset", "src_offset"),
                keys=["row_key"], order_col="src_offset",
            )
            if not dead.isEmpty():
                merge_upsert(spark, os.path.join(store, "dead_letters"), dead,
                             keys=["offset"], order_col="offset")
        with spans.phase("checkpoint.save"):
            ckpt.save(end)
        trigger_s = spans.elapsed()
        cpu = tree_cpu_s() - cpu0
        with spans.phase("read"):
            got = (
                spark.read.parquet(os.path.join(store, "prices"))
                .groupBy("Commodity")
                .agg(F.count(F.lit(1)).alias("n"), F.avg("Modal_Price").alias("avg_price"))
                .collect()
            )
        read_s = spans.durations["read"]
        live = sum(r["n"] for r in got)
        layers = {}
        with spans.phase("harness.evict"):
            memo.evict({"fetched": (records, dead)})  # their checkpoint blocks
        if tracer is not None:
            with spans.phase("trace.collect"):
                read_jobs = tracer.group_jobs(f"{tag}:read")
            op_s = tracer.end(spans.root)
            d = spans.durations
            dead_pages = [o for o in feed.dead_offsets if start <= o < end]
            layers = {
                "sources.fetch_s": d["sources.fetch"],
                "sources.pages": (end - start) // feed.limit,
                "sources.dead_pages": len(dead_pages),
                "cleaning.clean_s": d["cleaning.clean"],
                "sources.rows": feed.limit * ((end - start) // feed.limit - len(dead_pages)),
                "cleaning.kept_rows": n_rows,
                "sinks.upsert_s": d["sinks.upsert"],
                "sinks.write_mb": dir_bytes(os.path.join(store, "prices")) / (1024 * 1024),
                "sinks.live_rows": live,
                "checkpoint.save_s": d["checkpoint.save"] + d["checkpoint.load"],
                "read.read_s": read_s,
                "harness.evict_s": d["harness.evict"],
                "trace.collect_s": d["trace.collect"],
                "harness.op_s": op_s,
                "harness.other_s": op_s - sum(d.values()),
                "spark.exec_s": read_s,
                **spark_counters(read_jobs),
            }
        trig = {"kind": f"trigger_{k + 1}", "latency": trigger_s, "cpu": cpu, "rows": n_rows,
                "wall": spans.elapsed(), "layers": layers,
                "failed": live != len(self.expected[k])}
        read = {"kind": f"read_{k + 1}", "latency": read_s, "read": True}
        if trig["failed"]:
            print(f"check: {tag} store holds {live} rows, expected "
                  f"{len(self.expected[k])}", file=sys.stderr)
        return trig, read

    def check_store(self, spark, store: str, ckpt) -> bool:
        """Final store == keep-latest of the feed; dead letters == the
        failing pages; checkpoint == the final offset."""
        from agri_market_data_pipeline_spark.schemas import AGMARKNET_RAW_SCHEMA

        key_names = [f.name for f in AGMARKNET_RAW_SCHEMA.fields][:7]
        rows = spark.read.parquet(os.path.join(store, "prices")).select(
            *key_names, "Modal_Price", "src_offset").collect()
        got = {tuple(r[:7]): (r[7], r[8]) for r in rows}
        dead = {r[0] for r in spark.read.parquet(
            os.path.join(store, "dead_letters")).select("offset").collect()}
        ok = (
            len(rows) == len(got)
            and got == self.expected[-1]
            and dead == set(self.feed.dead_offsets)
            and ckpt.load() == self.feed.final_offset()
        )
        if not ok:
            print(f"check: final store {len(rows)} rows (want {len(self.expected[-1])}), "
                  f"dead {sorted(dead)} (want {sorted(set(self.feed.dead_offsets))}), "
                  f"checkpoint {ckpt.load()}", file=sys.stderr)
        return ok


class Spans:
    """Times the consecutive phases of one op. With a tracer it also
    records a root span with one child span per phase, and runs each
    phase under its own job group."""

    def __init__(self, tracer, kind: str, tag: str):
        self.tracer, self.tag = tracer, tag
        self.root = tracer.begin("op", kind=kind, tag=tag) if tracer is not None else None
        self.t0 = time.perf_counter()
        self.durations: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        span = None
        if self.tracer is not None:
            self.tracer.tag(f"{self.tag}:{name.split('.')[0]}")
            span = self.tracer.begin(name, self.root)
        start = time.perf_counter()
        try:
            yield
        finally:
            self.durations[name] = time.perf_counter() - start
            if span is not None:
                self.tracer.end(span)

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0


# ------------------------------------------------------------------- helpers

def memo_entries(memo) -> int:
    return sum(len(cache) for cache in memo._REGISTRY)


def spark_counters(jobs: list[dict]) -> dict:
    def total(key):
        return sum(j[key] for j in jobs)

    return {
        "spark.jobs": len(jobs),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.shuffle_read_mb": total("shuffle_read_mb"),
        "spark.shuffle_write_mb": total("shuffle_write_mb"),
        "spark.spill_mb": total("spill_mb"),
        "spark.gc_s": total("gc_s"),
        "spark.cpu_s": total("cpu_s"),
        "spark.run_s": total("run_s"),
        "tables.input_mb": total("input_mb"),
    }


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def per_op(samples: list[dict], key: str) -> float:
    """Median over op kinds of each kind's median ``key``: a typical op."""
    by_kind: dict[str, list[float]] = {}
    for s in samples:
        by_kind.setdefault(s["kind"], []).append(s[key])
    return statistics.median(statistics.median(v) for v in by_kind.values())


def per_pass(samples: list[dict], key: str) -> float:
    """Per-kind median of ``key``, summed over kinds: its cost for one
    pass over the workload's op mix."""
    by_kind: dict[str, list[float]] = {}
    for s in samples:
        by_kind.setdefault(s["kind"], []).append(s[key])
    return sum(statistics.median(v) for v in by_kind.values())


def layer_totals(samples: list[dict]) -> dict[str, float]:
    """Per-layer figures for one pass: for each op kind, the mean of each
    figure over its traced samples, summed over kinds."""
    by_kind: dict[str, list[dict]] = {}
    for s in samples:
        if s.get("layers"):
            by_kind.setdefault(s["kind"], []).append(s["layers"])
    out: dict[str, float] = {}
    for layers in by_kind.values():
        for key in layers[0]:
            out[key] = out.get(key, 0.0) + statistics.fmean(x[key] for x in layers)
    return out


# -------------------------------------------------------------------- runner

def run(workload_name: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    from agri_market_data_pipeline_spark.session import get_spark

    if workload_name == "incremental_ingest":
        workload = IngestWorkload(seed, work)
    else:
        workload = QueryWorkload(WORKLOADS[workload_name], DATA_DIR)

    # Cold set-up: launch the JVM, start the session, run the workload's
    # preparation.
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    warm_s = workload.prepare(spark)
    phases = {"session": time.perf_counter() - STARTED}

    tracer = None
    if traced:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)

    # Warm-up: every op (ingest: every round) WARMUP_PASSES times, untimed
    # and unchecked.
    rng = random.Random(seed)
    ingest = isinstance(workload, IngestWorkload)
    warmup = WARMUP_PASSES[workload_name]
    if ingest:
        for i in range(warmup):
            workload.round(spark, None, f"warmup{i}", check=False)
    else:
        for kind in workload.kinds * warmup:
            workload.op(spark, kind, None, "warmup")
            workload.digests[kind].clear()
    rss = peak_rss_mb(process_tree(os.getpid()))
    phases["warmup"] = time.perf_counter() - STARTED

    def run_one(kind, tr, tag) -> list[dict]:
        if ingest:
            return workload.round(spark, tr, tag)
        try:
            s = workload.op(spark, kind, tr, tag)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            print(f"op {kind} raised {exc!r}", file=sys.stderr)
            s = {"latency": float("nan"), "failed": True}
        s["kind"] = kind
        return [s]

    def one_pass(out) -> bool:
        return bool(out) if ingest else {s["kind"] for s in out} >= set(workload.kinds)

    # The timed window: ops in seeded order (ingest: whole rounds) until
    # `seconds` have passed and every op kind has run. A traced run pairs
    # each op with an untraced run of the same op, alternating which goes
    # first; trace.overhead compares the two walls of each pair.
    samples, baseline, ratios = [], [], []
    modes = [tracer, None] if traced else [None]
    t_start = time.perf_counter()
    setup_s = t_start - STARTED
    steal0 = steal_s()
    done = False
    while not done:
        for kind in [None] if ingest else rng.sample(workload.kinds, len(workload.kinds)):
            modes.reverse()
            walls = {}
            for tr in modes:
                got = run_one(kind, tr, f"t{len(samples)}.{len(baseline)}")
                (samples if tr is tracer else baseline).extend(got)
                walls[tr] = sum(s.get("wall", math.nan) for s in got if not s.get("read"))
            if traced:
                ratios.append(walls[tracer] / walls[None])
            now = time.perf_counter()
            done = (now - t_start >= seconds and one_pass(samples)) or now - STARTED >= DEADLINE_S
            if done:
                break
    wall_s = time.perf_counter() - t_start
    steal_share = (steal_s() - steal0) / (wall_s * os.cpu_count())
    phases["steal_share"] = round(steal_share, 3)
    rss = max(rss, peak_rss_mb(process_tree(os.getpid())))

    failed_checks = {} if ingest else workload.check(spark)
    phases["checked"] = time.perf_counter() - STARTED
    ops = [s for s in samples + baseline if not s.get("read")]
    attempted = len(ops)
    failed = sum(1 for s in ops if s.get("failed")) + sum(failed_checks.values())
    good = [s for s in samples if not s.get("failed")]

    if not traced:
        ops_ok = [s for s in good if not s.get("read")]
        metrics = {
            "setup_s": setup_s,
            "op_cpu_s": per_op(ops_ok, "cpu"),
            "pass_cpu_s": per_pass(ops_ok, "cpu"),
        }
        units = END_TO_END
    else:
        metrics = {k: 0.0 for k in LAYER_UNITS}
        totals = layer_totals(good)
        run_s = totals.pop("spark.run_s", 0.0)
        fetched = totals.pop("sources.rows", 0.0)
        kept = totals.pop("cleaning.kept_rows", 0.0)
        live = totals.pop("sinks.live_rows", 0.0)
        metrics.update(totals)
        exec_s = metrics["spark.exec_s"]
        metrics["spark.core_util"] = run_s / (exec_s * usable_cores()) if exec_s else 0.0
        if ingest:
            metrics["cleaning.kept_ratio"] = kept / fetched
            metrics["sinks.write_amp"] = live / kept
        metrics["session.start_s"] = session_s
        metrics["tables.warm_s"] = warm_s
        metrics["memory.peak_rss_mb"] = rss
        untraced = [s for s in baseline if not s.get("failed")]
        metrics["latency.op_p50_s"] = per_op([s for s in untraced if not s.get("read")], "latency")
        metrics["latency.pass_s"] = per_pass(untraced, "latency")
        metrics["host.steal_share"] = steal_share
        metrics["trace.overhead"] = statistics.median(
            r for r in ratios if not math.isnan(r)) - 1.0
        if ingest:
            trig = [s for s in good if not s.get("read")]
            reads = [s["latency"] for s in good if s.get("read")]
            metrics["ingest.rows_per_s"] = sum(s["rows"] for s in trig) / sum(
                s["latency"] for s in trig)
            metrics["ingest.read_p50_s"] = statistics.median(reads)
            metrics["ingest.store_bytes_per_row"] = workload.store_bytes_per_row
        write_trace(tracer, workload_name, seed)
        units = LAYER_UNITS

    by_kind: dict[str, list[float]] = {}
    for s in good:
        by_kind.setdefault(s["kind"], []).append(
            (round(s["latency"], 3), round(s.get("cpu", math.nan), 2)))
    print(f"{workload_name}: seed {seed}, {attempted} ops in {wall_s:.1f} s; "
          f"seconds since start {phases}; (latency, cpu) of each op {by_kind}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def write_trace(tracer, workload: str, seed: int) -> None:
    """Write the run's spans, with self times, next to the work dirs."""
    from perfbench.trace import self_times

    out = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(out, exist_ok=True)
    own = self_times(tracer.spans)
    for s in tracer.spans:
        s["self_s"] = own[s["id"]]
    with open(os.path.join(out, f"{workload}-seed{seed}.json"), "w") as fh:
        json.dump(tracer.spans, fh)


def stop_spark() -> None:
    """Stop the session and the JVM, and wait for every process this
    run started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    children = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + 20
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def run_all(seed: int, seconds: int) -> int:
    """Every workload, each in its own process; prints one table."""
    rc = 0
    for name in WORKLOADS:
        for traced in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(traced)]
            proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            if proc.returncode != 0:
                print(f"{name} trace={traced}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                rc = 1
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            print(f"{name} trace={traced}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            for key, m in res["metrics"].items():
                print(f"  {key:<36} {m['value']:>14.4f} {m['unit']}")
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args.seed, int(args.seconds))

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        isolate(work)
        try:
            result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        finally:
            stop_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
