"""Benchmark launcher. Run from the repository root:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 25 --trace 0

It starts worker.py in a fresh process with the package on PYTHONPATH
(so Spark's Python workers import it too), ``TMPDIR``, the session
warehouse and the working directory inside a per-run scratch directory,
and ``local[<cores>]``. After the worker exits it stops whatever the run
left behind, deletes the scratch directory and prints the worker's
output, whose last line is the result object. It exits non-zero without
a result when the package is missing or the worker fails.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "rad_database_parse_spark"
RUN_TIMEOUT_S = 160  # plus up to 10 s to stop the group: under 180 s


def stop_group(proc: subprocess.Popen, grace_s: float = 10.0) -> None:
    """SIGTERM every process left in the worker's group, SIGKILL after the
    grace period, and return once the group is empty."""
    sig = signal.SIGTERM
    deadline = time.monotonic() + grace_s
    while True:
        proc.poll()  # reap the worker, or its zombie keeps the group alive
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)


def main() -> int:
    t0 = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # The timed window is a fixed number of passes per workload (see
    # worker.py), so that every run rests on the same samples; --seconds
    # is accepted for BENCHMARK.json's command line and otherwise unused.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2

    scratch = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["TMPDIR"] = tmp
    # Spark's block and shuffle files, and every JVM's temp and perf-data
    # files (the spark-submit launcher's too), also stay in the run's dir.
    env["SPARK_LOCAL_DIRS"] = tmp
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")
        if p
    )
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_CONF"] = (
        f"spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')};"
        "spark.ui.showConsoleProgress=false"
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--trace", str(args.trace), "--t0", repr(t0),
    ]
    if args.trace:
        spans_dir = os.path.join(HERE, ".spans")
        os.makedirs(spans_dir, exist_ok=True)
        cmd += ["--spans", os.path.join(spans_dir, f"{args.workload}-{args.seed}.jsonl")]

    proc = subprocess.Popen(
        cmd, cwd=scratch, env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
        out = None
    finally:
        stop_group(proc)
        shutil.rmtree(scratch, ignore_errors=True)
    if out is None or proc.returncode != 0:
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
