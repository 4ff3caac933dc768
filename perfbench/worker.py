"""One benchmark run in a fresh Spark session; started by run.py.

Setup (counted in ``setup_s``): session start, registry import, the
oracle row counts from DuckDB, and one warm-up pass that also checks
every query's row count. Then a fixed number of whole timed
passes run in a closed loop, one client (``Workload.timed_passes``), so
every run rests on the same samples whatever the host's speed. Each pass
starts from ``session.clear_caches``. With ``--trace 1`` the run instead
alternates untraced and traced passes, ``TRACE_PAIRS`` of each, and
reports the per-layer metrics and the tracing overhead.

The last stdout line is the result object (see stats.result_line).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
import traceback

from stats import Tally, percentile, result_line, rows_match
from tracing import Tracer, patch_layers
from workloads import SF_DIR, WORKLOADS, Workload, pass_order

clock = time.monotonic  # system-wide, so run.py's start stamp compares
TRACE_PAIRS = 2


def oracle_rows(workload: Workload, oracles: dict[str, str]) -> dict[str, int]:
    """Row count of each query's DuckDB twin over the workload's data."""
    import duckdb

    from rad_database_parse_spark.catalog.io import TESTDATA_TABLES

    conn = duckdb.connect()
    try:
        for table in TESTDATA_TABLES:
            path = os.path.join(SF_DIR, f"{table}.parquet")
            conn.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        return {
            name: conn.execute(
                f"SELECT count(*) FROM ({oracles[name].strip().rstrip(';')})"
            ).fetchone()[0]
            for name in workload.queries
        }
    finally:
        conn.close()


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the Spark driver JVM."""
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def jvm_live_heap_mb(spark) -> float:
    """Heap in use after a full GC. The first GC frees the driver-side
    handles of broadcasts and shuffles; the pause lets the ContextCleaner
    drop the blocks they pinned, and the second GC collects those."""
    jvm = spark._jvm
    jvm.System.gc()
    time.sleep(1)
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / 2**20


class Runner:
    def __init__(self, spark, workload: Workload, seed: int, tally: Tally) -> None:
        from rad_database_parse_spark.registry import all_queries

        registry = all_queries()
        self.fns = {n: registry[n].fn for n in workload.queries}
        self.oracles = {n: registry[n].oracle for n in workload.queries}
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.tally = tally
        self.passes = 0

    def next_order(self) -> list[str]:
        self.passes += 1
        return pass_order(self.workload, self.seed, self.passes)

    def build(self, name: str):
        return self.fns[name](self.spark, SF_DIR)

    @staticmethod
    def sink(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def check_pass(self, expected: dict[str, int]) -> None:
        """Warm-up pass through the same sink as the timed passes, then a
        row count of each result. The first pass of a process runs 25-80%
        slower than later ones, so it counts in setup_s, never in pass_s.
        (An ``Observation`` on the sink would save the second action, but
        with one in the warm-up pass every later pass ran about 1.6x
        slower.)"""
        from rad_database_parse_spark.session import clear_caches

        clear_caches(self.spark)
        for name in self.next_order():
            rows = None
            try:
                df = self.build(name)
                self.sink(df)
                rows = df.count()
            except Exception:
                traceback.print_exc()
            ok = rows_match(rows, expected[name])
            if not ok:
                print(f"check failed: {name} rows={rows} oracle={expected[name]}",
                      file=sys.stderr)
            self.tally.record(ok)

    def timed_pass(self, tracer: Tracer | None = None) -> tuple[float, dict[str, float]]:
        """One pass; returns its wall time (first builder call to last sink
        return) and each successful query's latency."""
        from rad_database_parse_spark.session import clear_caches

        clear_caches(self.spark)
        order = self.next_order()
        latencies: dict[str, float] = {}
        first = last = clock()
        for name in order:
            start = clock()
            ok = True
            try:
                if tracer is None:
                    self.sink(self.build(name))
                else:
                    self._traced_query(tracer, name)
            except Exception:
                traceback.print_exc()
                ok = False
            last = clock()
            self.tally.record(ok)
            if ok:
                latencies[name] = last - start
        return last - first, latencies

    def _traced_query(self, tracer: Tracer, name: str) -> None:
        with tracer.span("query", query=name) as q:
            with tracer.span("registry.build"):
                df = self.build(name)
            with tracer.span("execute"):
                self.sink(df)
            persisted = self.spark.sparkContext._jsc.getPersistentRDDs()
            q.attrs["persisted_after"] = persisted.size()


def layer_metrics(spark, tracer: Tracer, pass_span, cores: int) -> dict[str, float]:
    """Per-layer totals over one traced pass."""
    def spans(name):
        return tracer.named(name, within=pass_span)

    loads, commits = spans("catalog.load"), spans("catalog.commit")
    builds, streams, execs = spans("registry.build"), spans("streaming.run"), spans("execute")
    m = {
        "catalog.load_calls": len(loads),
        "catalog.load_jobs": sum(s.jobs for s in loads),
        "catalog.load_s": sum(s.duration for s in loads),
        "catalog.commit_calls": len(commits),
        "catalog.commit_s": sum(s.duration for s in commits),
        "catalog.commit_conflicts": sum(bool(s.attrs.get("conflict")) for s in commits),
        "registry.build_s": sum(s.duration for s in builds),
        "registry.build_self_s": sum(tracer.self_time(s) for s in builds),
        "registry.build_jobs": sum(s.jobs for s in builds),
        "registry.persisted_after": sum(
            s.attrs.get("persisted_after", 0) for s in spans("query")
        ),
        "streaming.run_calls": len(streams),
        "streaming.run_s": sum(s.duration for s in streams),
        "execute.s": sum(s.duration for s in execs),
        "execute.jobs": sum(s.jobs for s in execs),
    }
    # Stage figures reach the status store through the listener bus;
    # drain it before reading them.
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    stages = set()
    for s in execs:
        for job in range(s.job_start, s.job_end):
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(info.stageIds)
    tasks = run_ms = shuffle = spill = 0
    for sid in stages:
        sd = store.lastStageAttempt(sid)
        tasks += sd.numCompleteTasks()
        run_ms += sd.executorRunTime()
        shuffle += sd.shuffleWriteBytes()
        spill += sd.diskBytesSpilled()
    m["execute.tasks"] = tasks
    m["execute.executor_run_s"] = run_ms / 1000
    m["execute.busy_ratio"] = run_ms / 1000 / (m["execute.s"] * cores)
    m["execute.shuffle_write_bytes"] = shuffle
    m["execute.spill_bytes"] = spill
    return m


LAYER_UNITS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "session.live_heap_mb": "MB",
    "catalog.load_calls": "count",
    "catalog.load_jobs": "count",
    "catalog.load_s": "s",
    "catalog.commit_calls": "count",
    "catalog.commit_s": "s",
    "catalog.commit_conflicts": "count",
    "registry.build_s": "s",
    "registry.build_self_s": "s",
    "registry.build_jobs": "count",
    "registry.persisted_after": "count",
    "streaming.run_calls": "count",
    "streaming.run_s": "s",
    "execute.s": "s",
    "execute.jobs": "count",
    "execute.tasks": "count",
    "execute.executor_run_s": "s",
    "execute.busy_ratio": "ratio",
    "execute.shuffle_write_bytes": "bytes",
    "execute.spill_bytes": "bytes",
    "trace.overhead_s": "s",
}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True, help="launch time, time.monotonic()")
    ap.add_argument("--spans", help="file the traced run writes its spans to")
    args = ap.parse_args(argv)
    workload = WORKLOADS[args.workload]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    from rad_database_parse_spark.session import get_session

    marks = {"launch": args.t0, "import": clock()}
    spark = get_session()
    marks["session"] = clock()
    tracer = Tracer(
        f"{workload.name}-{args.seed}-{os.getpid()}",
        job_counter=spark.sparkContext._jsc.sc().dagScheduler().nextJobId,
    )
    try:
        tally = Tally()
        runner = Runner(spark, workload, args.seed, tally)
        expected = oracle_rows(workload, runner.oracles)
        marks["oracle"] = clock()
        runner.check_pass(expected)
        marks["check pass"] = clock()
        setup_s = clock() - args.t0

        passes: list[float] = []
        traced: list[float] = []
        latencies: dict[str, list[float]] = {}
        layers: list[dict[str, float]] = []
        if args.trace:
            # Alternate, the first side set by the seed, so trace.overhead_s
            # compares passes made side by side.
            kinds = [(args.seed + i) % 2 == 1 for i in range(2 * TRACE_PAIRS)]
        else:
            kinds = [False] * workload.timed_passes
        for traced_pass in kinds:
            if traced_pass:
                with patch_layers(tracer), tracer.span("pass") as p:
                    wall, _ = runner.timed_pass(tracer)
                traced.append(wall)
                layers.append(layer_metrics(spark, tracer, p, cores))
            else:
                wall, lat = runner.timed_pass()
                passes.append(wall)
                for name, seconds in lat.items():
                    latencies.setdefault(name, []).append(seconds)
        memory = {"session.peak_rss_mb": jvm_peak_rss_mb(spark)}
        if args.trace:  # the forced GCs cost a few seconds; only traced runs pay
            memory["session.live_heap_mb"] = jvm_live_heap_mb(spark)
    finally:
        spark.stop()

    if not latencies:
        print("no query succeeded in the timed passes", file=sys.stderr)
        return 1
    p50 = percentile([t for ts in latencies.values() for t in ts], 50)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(passes), "s"),
        "query_p50_s": (p50.value, "s"),
    }
    for name, (value, unit) in end_to_end.items():
        print(f"{workload.name} {name} = {value:.4f} {unit}")
    steps = list(marks.items())
    print(f"{workload.name} setup_s parts:", ", ".join(
        f"{step} {t - prev:.2f} s" for (_, prev), (step, t) in zip(steps, steps[1:])
    ))
    print(f"{workload.name} query_p50_s samples = {p50.n} ({p50.above} above the median)")
    print(f"{workload.name} per-query median s:", ", ".join(
        f"{name} {statistics.median(ts):.3f}" for name, ts in sorted(latencies.items())
    ))
    print(f"{workload.name} error_rate = {tally.error_rate:.4f} ratio"
          f" ({tally.failed} of {tally.attempted} executions)")
    for name, value in memory.items():
        print(f"{workload.name} {name} = {value:.4f} MB")
    print(f"{workload.name} passes = {len(passes)} untraced, {len(traced)} traced:"
          f" {' '.join(f'{p:.3f}' for p in passes + traced)}")
    if not args.trace:
        print(result_line(tally, end_to_end))
        return 0

    metrics = {name: statistics.median(m[name] for m in layers) for name in layers[0]}
    metrics.update(memory)
    metrics["session.start_s"] = marks["session"] - marks["import"]
    metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(passes)
    for name, unit in LAYER_UNITS.items():
        print(f"{workload.name} {name} = {metrics[name]:.6g} {unit}")
    if args.spans:
        tracer.write(args.spans)
    print(result_line(tally, {n: (metrics[n], u) for n, u in LAYER_UNITS.items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
