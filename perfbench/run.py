#!/usr/bin/env python3
"""Repository benchmark: seeded ELT loads and registry query mixes.

    python3 perfbench/run.py --workload elt --seed 1 --seconds 15 --trace 0

Run from the repository root. Each run starts its own Spark session on
``local[<cores>]``, drives the package's public functions from outside
the package (one closed-loop client), checks every output against DuckDB,
and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones (spans, Spark REST counters). All files
a run writes live under ``.perfbench/`` in the working directory; the
work directory is removed when the run ends. See README.md beside this
file for the workloads and what each metric covers.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from spans import SparkCounters, Tracer, cores, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "amazon_sales_data_engineering_spark"
SETUP_REPEATS = 5


class Run:
    """What a workload hands back: checked operations and metrics."""

    def __init__(self, args, work: str, spark, tracer, counters) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark = spark
        self.tracer = tracer
        self.counters = counters
        self.metrics: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self._t0 = time.perf_counter()

    def log(self, what: str) -> None:
        """A progress line on stderr: seconds since the workload started."""
        print(f"perfbench: {time.perf_counter() - self._t0:7.2f}s {what}", file=sys.stderr)

    def check(self, ok: bool, what: str, n_ops: int = 1) -> None:
        """Count ``n_ops`` operations; a failed output check fails them."""
        self.attempted += n_ops
        if not ok:
            self.failed += n_ops
            print(f"output check failed: {what}", file=sys.stderr)

    def warm_ops(self, durations: list[float]) -> None:
        """op_p50_s: median latency of the warm operations."""
        self.log("warm ops (s) " + " ".join(f"{d:.3f}" for d in durations))
        self.metrics["op_p50_s"] = statistics.median(durations)

    def engine(self, prefix: str, c: dict | None, wall_s: float, n_ops: int) -> None:
        """Spark counters per operation; core_util = busy ÷ (wall × cores)."""
        per_op = ("jobs", "sql_executions", "tasks", "cpu_s", "gc_s", "input_bytes",
                  "shuffle_write_bytes", "spill_bytes")
        if c is None:  # API unreachable: leave the metrics out, never guess
            for k in (*per_op, "core_util", "failed_tasks"):
                self.metrics[f"{prefix}{k}"] = None
            return
        self.metrics[f"{prefix}core_util"] = c["busy_s"] / (wall_s * cores())
        self.metrics[f"{prefix}failed_tasks"] = c["failed_tasks"]
        for k in per_op:
            self.metrics[f"{prefix}{k}"] = c[k] / n_ops


def session_conf(work: str) -> dict[str, str]:
    """Only bookkeeping on top of session.DEFAULT_CONF: where files go and
    how much history the status API keeps (the default 1000 jobs would
    silently drop jobs of a long trickle)."""
    return {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # JVM temp files inside the work directory; no /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000000",
        "spark.ui.showConsoleProgress": "false",
    }


def open_session(work: str):
    """Launch the JVM, then time SETUP_REPEATS fresh sessions
    (get_spark + ensure_namespaces) on it; set-up metrics are medians."""
    from amazon_sales_data_engineering_spark.pipeline.config import ensure_namespaces
    from amazon_sales_data_engineering_spark.session import get_spark

    conf = session_conf(work)
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_namespaces(spark)
    launch = time.perf_counter() - t0
    gets, namespaces, totals = [], [], []
    for _ in range(SETUP_REPEATS):
        spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", conf=conf)
        t1 = time.perf_counter()
        ensure_namespaces(spark)
        t2 = time.perf_counter()
        gets.append(t1 - t0)
        namespaces.append(t2 - t1)
        totals.append(t2 - t0)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {
        "setup_s": statistics.median(totals),
        "session.launch_s": launch,
        "session.get_spark_s": statistics.median(gets),
        "session.ensure_namespaces_s": statistics.median(namespaces),
    }


def close_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def prepare_env(work: str) -> None:
    for sub in ("tmp", "local", "warehouse", "data"):
        os.makedirs(f"{work}/{sub}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Python workers (Arrow UDFs) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(work)  # stray files (derby.log, spark-warehouse) land here
    sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found beside perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.abspath(".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(base, exist_ok=True)
    prepare_env(work)
    import elt  # imports the package: after prepare_env puts it on sys.path
    import mix

    spark = None
    try:
        spark, setup = open_session(work)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        tracer = Tracer(bool(args.trace))
        counters = SparkCounters(spark) if args.trace else None
        run = Run(args, work, spark, tracer, counters)
        run.metrics.update(setup)
        {"elt": elt.run, "query_mix": mix.run}[args.workload](run)
        run.metrics["process.peak_rss_mb"] = peak_rss_mb(jvm.pid if jvm else None)
        if args.trace:
            tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            close_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    # A layer the workload never calls reports 0; a counter the status
    # API could not deliver (None) is left out.
    group = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = {m["name"]: run.metrics.get(m["name"], 0.0) for m in group}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in group if values[m["name"]] is not None}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
