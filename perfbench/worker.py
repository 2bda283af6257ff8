"""One benchmark run inside a fresh process, started by ``run.py``.

Sets up a bench session, registers every input table, runs one workload
with a single closed-loop client (each op starts after the previous one
ends) and prints one JSON result line on stdout. Spark's own output goes
to stderr.

End-to-end figures are taken with tracing off. With ``--trace 1`` every
measured pass reads Spark's in-process status store around each call into
the package and the run reports per-layer counters (see README.md).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

from proc import tree_cpu_s, tree_memory_mb

# The warm "analytics" workload runs both groups in one session: the
# single-pass relational queries (planning- and dispatch-bound, no lineage
# cut) and the iterative graph and dedup spines (lineage cuts and a shuffle
# every round). Per-op metrics keep the two groups apart.
RELATIONAL = (
    "pricing_summary_rollup",
    "star_join_enriched_orders",
    "latest_event_per_user_type",
    "knn_cosine_bruteforce",
)
ITERATIVE = (
    "pagerank_purchase_graph",
    "dedup_minhash_lsh_pairs",
)
MEDALLION_STAGES = (
    "ingest_bronze", "dim_towers", "dim_date", "silver_calls", "silver_customers",
    "agg_tower_hourly", "dim_customers", "fact_calls", "agg_customer_monthly",
    "quality_gate",
)
INCREMENTAL_STEP = "incremental_silver_calls"
TXNLOG_MERGE = "merge_upsert_orders_txnlog"
GOLD_TABLES = (
    "dim_customers", "dim_towers", "dim_date", "fact_calls",
    "agg_tower_hourly", "agg_customer_monthly",
)
MB = 1024.0 * 1024.0

# Status-store counters summed per traced pass; name -> unit.
SPARK_COUNTERS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_cpu_s": "s",
    "spark.task_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
}
LINEAGE_COUNTERS = {"lineage.cuts": "count", "lineage.cut_mb": "MB", "lineage.release_s": "s"}


def fingerprint(df) -> tuple[int, str]:
    """Row count and an order-insensitive digest of a query result: columns
    sorted by name, each row rendered value by value (floats by ``repr``,
    so a last-bit difference shows), rows sorted."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(repr(v) if isinstance(v, float) else str(v) for v in r)
        for r in df.select(*cols).collect()
    )
    return len(rows), hashlib.sha256("\x1e".join(rows).encode()).hexdigest()


class StatusStore:
    """Counters from Spark's in-process status store, attributed to one
    call at a time: ``drain()`` returns the totals of the jobs and stages
    that appeared since the previous ``drain()``. Ops run one at a time on
    one thread, so every new stage belongs to the call just made."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._ctx = sc._jsc.sc()
        self._store = self._ctx.statusStore()
        self._jsc = sc._jsc
        # Spark 4.1's only stageList overload is
        # (List[StageStatus], details, withSummaries, quantiles, List[TaskStatus]).
        self._stage_args = (
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        self._no_filter = jvm.java.util.ArrayList()
        self._last_stage = self._last_job = -1
        self.drain()

    def drain(self) -> dict[str, float]:
        self._ctx.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        stages = self._store.stageList(*self._stage_args)  # newest first
        newest = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            if str(s.status()) == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numTasks()
            out["spark.task_run_s"] += s.executorRunTime() / 1e3
            out["spark.task_cpu_s"] += s.executorCpuTime() / 1e9
            out["spark.gc_s"] += s.jvmGcTime() / 1e3
            out["spark.input_mb"] += s.inputBytes() / MB
            out["spark.output_mb"] += s.outputBytes() / MB
            out["spark.shuffle_read_mb"] += s.shuffleReadBytes() / MB
            out["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            out["spark.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
        self._last_stage = newest
        jobs = self._store.jobsList(self._no_filter)  # newest first
        if jobs.size():
            newest_job = jobs.apply(0).jobId()
            out["spark.jobs"] = float(newest_job - self._last_job)
            self._last_job = newest_job
        return out

    def lineage(self) -> tuple[int, float]:
        """Persistent RDDs (lineage cuts) alive now, and their stored MB."""
        infos = self._ctx.getRDDStorageInfo()
        stored = sum(r.memSize() + r.diskSize() for r in infos)
        return len(self._jsc.getPersistentRDDs()), stored / MB


class Pass:
    """Timings and counters of one pass over a workload's ops."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.build: dict[str, float] = {}  # op -> seconds building it
        self.exec: dict[str, float] = {}  # op -> seconds running it
        self.layers: dict[str, float] = dict.fromkeys(
            list(SPARK_COUNTERS) + list(LINEAGE_COUNTERS), 0.0
        )
        self.cpu_s = 0.0  # process-tree CPU over the whole pass
        self.clock_s = 0.0  # the whole pass, between-op releases included
        self.trace_s = 0.0  # spent in tracing calls

    @property
    def wall_s(self) -> float:
        return sum(self.build.values()) + sum(self.exec.values())

    def add(self, counters: dict[str, float]) -> None:
        for k, v in counters.items():
            self.layers[k] = self.layers.get(k, 0.0) + v


class Run:
    """One run's state: the session, the checks' outcome and, in a traced
    run, the status-store reader."""

    def __init__(self, args, spark, expected: dict):
        self.args = args
        self.spark = spark
        self.expected = expected
        self.attempted = 0
        self.failures: list[str] = []
        self.store = StatusStore(spark) if args.trace else None
        self.timeline: dict[str, float] = {}  # seconds since the process was spawned

    def mark(self, event: str) -> None:
        self.timeline[event] = time.time() - float(os.environ["PERFBENCH_SPAWN_TIME"])

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def check_result(self, name: str, df) -> None:
        want = self.expected["ops"][name]
        rows, digest = fingerprint(df)
        if rows != want["rows"] or digest != want["fingerprint"]:
            self.fail(f"{name}: output check ({rows} rows, {digest[:12]})")

    def trace(self, p: Pass, fn):
        """A tracing call, timed into the pass's tracing overhead."""
        t0 = time.perf_counter()
        out = fn()
        p.trace_s += time.perf_counter() - t0
        return out

    def release(self, p: Pass | None) -> None:
        """Drop persisted relations between ops, outside the timed windows."""
        from telecom_dataengineering_pipeline_spark.benchlib import _clear_caches

        if p is not None and p.traced:
            cuts, cut_mb = self.trace(p, self.store.lineage)
            t0 = time.perf_counter()
            for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(True)
            release_s = time.perf_counter() - t0 if cuts else 0.0
            p.add({"lineage.cuts": cuts, "lineage.cut_mb": cut_mb, "lineage.release_s": release_s})
        _clear_caches(self.spark)

    def timed(self, p: Pass | None, name: str, fn, key: str = "build"):
        """One call into the package, timed into ``p.build`` or ``p.exec``
        and, when traced, with the status-store counters it moved."""
        if p is not None and p.traced:
            self.trace(p, self.store.drain)
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        if p is not None:
            getattr(p, key)[name] = getattr(p, key).get(name, 0.0) + dt
            if p.traced:
                p.add(self.trace(p, self.store.drain))
        return out

    def measured(self, p: Pass, body):
        """Run ``body``, one pass, recording its clock time and CPU in ``p``."""
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        out = body()
        p.clock_s = time.perf_counter() - t0
        p.cpu_s = tree_cpu_s() - cpu0
        return out

    # -- analytics ---------------------------------------------------------
    def query_pass(self, ops: list[str], p: Pass | None) -> None:
        """One pass over registered queries; ``p is None`` is the unmeasured
        warm-up pass, which checks every op's output instead of timing it."""
        from telecom_dataengineering_pipeline_spark.queries.registry import REGISTRY

        for name in ops:
            self.attempted += 1
            try:
                df = self.timed(p, name, lambda: REGISTRY[name].fn(self.spark, self.args.data))
                if p is None:
                    self.check_result(name, df)
                else:
                    self.timed(p, name, lambda: df.write.format("noop").mode("overwrite").save(), "exec")
            except Exception as e:  # one failing op must not end the run
                self.fail(f"{name}: {type(e).__name__}: {e}")
            self.release(p)

    # -- medallion ---------------------------------------------------------
    def medallion_pass(self, p: Pass):
        """The write side: every DAG stage in topological order, then the
        incremental silver refresh and the transaction-log MERGE, each timed
        as one op. Returns the pipeline and the MERGE result for checking,
        or None after a failure."""
        from telecom_dataengineering_pipeline_spark.plans.medallion import MedallionPipeline
        from telecom_dataengineering_pipeline_spark.queries.registry import REGISTRY

        base, tmp = os.path.join(self.args.work, "medallion"), os.environ["TMPDIR"]
        for d in (base, tmp):  # the MERGE's table lives under TMPDIR
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        want = self.expected["medallion"]
        pipe = MedallionPipeline(self.spark, base, n_events=want["events"],
                                 n_customers=want["customers"])
        steps = [(s.name, s.run) for s in pipe.dag().topological_order()]
        steps.append((INCREMENTAL_STEP, pipe.incremental_silver_calls))
        for name, fn in steps:
            self.attempted += 1
            try:
                self.timed(p, name, fn)
            except Exception as e:
                self.fail(f"{name}: {type(e).__name__}: {e}")
                return None  # later stages read this stage's output
        self.attempted += 1
        try:
            df = self.timed(p, TXNLOG_MERGE, lambda: REGISTRY[TXNLOG_MERGE].fn(self.spark, self.args.data))
            self.timed(p, TXNLOG_MERGE, lambda: df.write.format("noop").mode("overwrite").save(), "exec")
        except Exception as e:
            self.fail(f"{TXNLOG_MERGE}: {type(e).__name__}: {e}")
            return None
        if p.traced:
            files = [os.path.join(d, n) for top in (base, tmp) for d, _, ns in os.walk(top) for n in ns]
            p.layers["sources.files_written"] = len(files)
            p.layers["sources.bytes_written_mb"] = sum(map(os.path.getsize, files)) / MB
        return pipe, df

    def check_medallion(self, pipe, merged) -> None:
        """The MERGE result, and the row counts of the silver and gold tables."""
        self.check_result(TXNLOG_MERGE, merged)
        want = self.expected["medallion"]
        read = self.spark.read.parquet
        counts = {t: read(pipe.path("gold", t)).count() for t in GOLD_TABLES}
        counts["silver_calls"] = read(pipe.path("silver", "calls")).count()
        for t, n in counts.items():
            if n != want["rows"][t]:
                self.fail(f"medallion {t}: {n} rows, expected {want['rows'][t]}")


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def measure(run: Run) -> list[Pass]:
    """The measured passes; every one is traced in a traced run."""
    traced = bool(run.args.trace)
    if run.args.workload == "medallion":
        # Cold: one pass, the process's first Spark work.
        p = Pass(traced)
        outputs = run.measured(p, lambda: run.medallion_pass(p))
        run.mark("measured")
        if outputs is not None:
            run.check_medallion(*outputs)
        return [p]
    rng = random.Random(run.args.seed)
    ops = list(RELATIONAL + ITERATIVE)
    run.query_pass(rng.sample(ops, len(ops)), None)  # warm-up + output checks
    run.mark("warm")
    passes: list[Pass] = []
    t_end = time.perf_counter() + run.args.seconds
    while not passes or time.perf_counter() < t_end:
        p = Pass(traced)
        run.measured(p, lambda: run.query_pass(rng.sample(ops, len(ops)), p))
        passes.append(p)
    run.mark("measured")
    return passes


def end_to_end(passes: list[Pass], setup_s: float) -> dict[str, tuple[float, str]]:
    ops = sorted({n for p in passes for n in p.build})
    per_op = [median([p.build.get(n, 0.0) + p.exec.get(n, 0.0) for p in passes]) for n in ops]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (median([p.wall_s for p in passes]), "s"),
        "op_geomean_s": (math.exp(statistics.fmean(math.log(max(t, 1e-6)) for t in per_op))
                         if per_op else 0.0, "s"),
        "cpu_s": (median([p.cpu_s for p in passes]), "s"),
    }


def per_layer(passes: list[Pass], setup: dict, run: Run, cores: int,
              rss: dict[str, float]) -> dict[str, tuple[float, str]]:
    out: dict[str, tuple[float, str]] = {
        "session.start_s": (setup["session"], "s"),
        "catalog.load_s": (setup["catalog"], "s"),
        # Peak RSS (VmHWM) summed over the live process tree. Not an
        # end-to-end metric: the JVM's heap growth makes it vary between
        # runs by more than any bound the benchmark could hold it to.
        "peak_rss_mb": (sum(rss.values()), "MB"),
    }
    query_ops = RELATIONAL + ITERATIVE + (TXNLOG_MERGE,)
    for n in query_ops:
        out[f"op.{n}.build_s"] = (median([p.build.get(n, 0.0) for p in passes]), "s")
        out[f"op.{n}.exec_s"] = (median([p.exec.get(n, 0.0) for p in passes]), "s")
    out["queries.build_s"] = (median([sum(p.build.get(n, 0.0) for n in query_ops) for p in passes]), "s")
    out["queries.exec_s"] = (median([sum(p.exec.get(n, 0.0) for n in query_ops) for p in passes]), "s")
    for name, unit in {**SPARK_COUNTERS, **LINEAGE_COUNTERS}.items():
        out[name] = (median([p.layers[name] for p in passes]), unit)
    wall = median([p.wall_s for p in passes])
    out["spark.task_util"] = (out["spark.task_run_s"][0] / (wall * cores) if wall else 0.0, "ratio")
    for stage in MEDALLION_STAGES:
        out[f"plans.{stage}_s"] = (median([p.build.get(stage, 0.0) for p in passes]), "s")
    out["plans.incremental_merge_s"] = (median([p.build.get(INCREMENTAL_STEP, 0.0) for p in passes]), "s")
    out["sources.txnlog_merge_s"] = (
        median([p.build.get(TXNLOG_MERGE, 0.0) + p.exec.get(TXNLOG_MERGE, 0.0) for p in passes]), "s")
    for name, unit in (("sources.files_written", "count"), ("sources.bytes_written_mb", "MB")):
        out[name] = (median([p.layers.get(name, 0.0) for p in passes]), unit)
    # The pass's wall time over the same pass without its tracing calls.
    out["trace.overhead"] = (median([p.clock_s / (p.clock_s - p.trace_s) for p in passes]), "ratio")
    out["failed_ops"] = (len(run.failures) / max(run.attempted, 1), "ratio")
    return out


def stop_spark(spark) -> None:
    """Stop the Spark application and the JVM, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF
            proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("analytics", "medallion"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True, help="directory of the input tables")
    ap.add_argument("--work", required=True, help="scratch directory for outputs")
    ap.add_argument("--expected", required=True, help="expected outputs for this scale")
    args = ap.parse_args()
    with open(args.expected) as f:
        expected = json.load(f)

    from telecom_dataengineering_pipeline_spark.benchlib import bench_session
    from telecom_dataengineering_pipeline_spark.sources.catalog import TABLES, load_table

    t0 = time.perf_counter()
    spark = bench_session(f"perfbench-{args.workload}")
    t1 = time.perf_counter()
    for name in TABLES:
        load_table(spark, args.data, name).createOrReplaceTempView(name)
    t2 = time.perf_counter()
    # Fresh process start (stamped by run.py just before the spawn) until
    # the session is ready and every input is registered.
    setup = {"total": time.time() - float(os.environ["PERFBENCH_SPAWN_TIME"]),
             "session": t1 - t0, "catalog": t2 - t1}

    run = Run(args, spark, expected)
    run.mark("ready")
    passes = measure(run)
    rss = tree_memory_mb("VmHWM")
    metrics = end_to_end(passes, setup["total"])
    layers = per_layer(passes, setup, run, int(os.environ["SPARK_GRAFT_CPUS"]), rss)
    record = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "failures": run.failures,
        "passes": [{"traced": p.traced, "wall_s": p.wall_s, "cpu_s": p.cpu_s, "clock_s": p.clock_s,
                    "trace_s": p.trace_s, "build": p.build, "exec": p.exec} for p in passes],
        "end_to_end": {k: v[0] for k, v in metrics.items()},
        "per_layer": {k: v[0] for k, v in layers.items()},
        "vmhwm_mb_by_process": rss,
        "units": {k: v[1] for k, v in {**metrics, **layers}.items()},
    }
    stop_spark(run.spark)
    run.mark("stopped")
    record["timeline"] = run.timeline
    print(json.dumps(record), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
