#!/usr/bin/env python3
"""Benchmark of the crowdsorsa engine: the season pipelines end to end and a
cold/warm registry-query mix, on ``local[nproc]`` from one driver process.

    python3 perfbench/run.py --workload season_push --seed 1 --seconds 12 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` first runs the untraced measurement as a child process, then
measures traced, prints the per-layer metrics (including the tracing
overhead on each end-to-end metric: traced minus untraced) and writes the
spans to ``.perfbench_work/trace-<workload>-<seed>.json``. Both measure the
shorter window ``--short`` selects (one warm ``query_mix`` pass instead of
three), so a traced run stays within its time limit.
The last stdout line is one JSON object:
``{"correct": …, "attempted": …, "failed": …, "metrics": {name: {"value", "unit"}}}``.
Metric names, units and the workload list live in ``BENCHMARK.json``; what
each one means is in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: set-ups per measurement; setup_s is their median
SETUPS = 3
#: the issue's names for the generic end-to-end metrics, per workload
ISSUE_NAMES = {
    "season_push": {"throughput_per_s": ("push_docs_per_s", "docs/s")},
    "query_mix": {
        "throughput_per_s": ("mix_warm_queries_per_s", "1/s"),
        "op_s": ("mix_geomean_s", "s"),
        "first_op_s": ("mix_cold_s", "s"),
    },
}


def configure_env(work: str, nproc: int) -> None:
    """Keep every file Spark, its Python workers and the queries write under
    ``work``, and make the package importable to the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]


def start_session(work: str, nproc: int, eventlog_dir: str | None):
    from crowdsorsa_etl_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{eventlog_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf=conf,
    )


def warm_up(spark) -> None:
    """Start the Python workers and compile the common code paths."""
    from pyspark.sql import functions as F

    from crowdsorsa_etl_spark.functions import geo

    square = geo.polygons_to_wkb([[[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]]])
    df = spark.createDataFrame([(square, i % 7) for i in range(256)], "g binary, k int")
    df.select(geo.area_m2(F.col("g"), "EUREF").alias("a"), "k").groupBy("k").sum("a").collect()


def measure(name: str, seed: int, seconds: float, traced: bool, short: bool, work: str, nproc: int):
    """Set up SETUPS times, then measure one window on the last set-up.
    Returns (end-to-end metrics, per-layer metrics, workload, tracer).

    The first set-up launches the JVM and the Python workers; the others get
    the running session back from ``get_spark`` and redo the rest, so their
    median is the set-up a warm process pays."""
    from tracing import MemorySampler, Tracer, median, replay_event_log
    from workloads import WORKLOADS

    mode = "traced" if traced else "untraced"
    eventlog_dir = os.path.join(work, f"eventlog-{mode}") if traced else None
    setups = []
    spark = wl = None
    try:
        for rep in range(SETUPS):
            if wl is not None:
                wl.close()
            t0 = time.perf_counter()
            spark = start_session(work, nproc, eventlog_dir)
            if rep == 0:  # later set-ups get this session back
                session_start_s = time.perf_counter() - t0
            warm_up(spark)
            tracer = Tracer(spark, name, traced)
            wl = WORKLOADS[name](
                spark, tracer, os.path.join(work, f"{mode}-{rep}"), seed, nproc, short
            )
            wl.setup()
            setups.append(time.perf_counter() - t0)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        start_ms = time.time() * 1000.0
        with MemorySampler(jvm_pid) as mem:
            e2e, layers = wl.run(seconds)
        end_ms = time.time() * 1000.0
        if traced:
            layers.update(wl.probe())
        app_id = spark.sparkContext.applicationId
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            spark.stop()
    print(f"# {mode} set-ups: {', '.join(f'{s:.2f}' for s in setups)} s", file=sys.stderr)
    e2e["setup_s"] = median(setups)
    e2e["peak_pss_mb"] = mem.peak_mb
    layers["session.start_s"] = session_start_s
    if traced:
        layers.update(layer_metrics(tracer, replay_event_log(
            os.path.join(eventlog_dir, app_id), start_ms, end_ms, f"bench/{name}/"
        )))
    return e2e, layers, wl, tracer


def layer_metrics(tracer, log: dict) -> dict:
    """Per-layer numbers from the spans and the replayed event log."""
    from tracing import median

    out = {}
    per_call = {
        "sources.shapefile.read_s": "sources.shapefile.read",
        "pipelines.crowdsorsa.plan_s": "pipelines.crowdsorsa.plan",
        "pipelines.crowdsorsa.docs_s": "pipelines.crowdsorsa.docs",
        "sinks.http_push.push_s": "sinks.http_push.push",
        "sinks.http_push.audit_write_s": "sinks.http_push.audit_write",
        "sinks.writers.write_partitioned_s": "sinks.writers.write_partitioned",
    }
    for metric, layer in per_call.items():
        out[metric] = median(tracer.seconds(layer))
    for probe in ("make_valid", "area", "geojson"):
        out[f"functions.geo.{probe}_s"] = tracer.total(f"functions.geo.{probe}")
    for key in ("jobs", "tasks", "failed_tasks", "executor_run_s", "shuffle_write_mb",
                "spill_mb", "gc_s", "slowest_task_s"):
        out[f"spark.{key}"] = log[key]
    batches = [s for s in tracer.spans if s["layer"] == "streaming.batch"]
    if batches:
        jobs = sum(
            1 for t in log["job_submit_ms"]
            if any(b["start_ms"] <= t <= b["end_ms"] for b in batches)
        )
        out["streaming.jobs_per_batch"] = jobs / len(batches)
    ops = {s["id"]: s["seconds"] for s in tracer.spans if s["layer"] == "op"}
    inside = sum(s["seconds"] for s in tracer.spans if s["parent"] in ops)
    out["trace.layer_share"] = inside / sum(ops.values()) if ops else 0.0
    return out


def shutdown_jvm() -> None:
    """Stop the gateway JVM (and with it the Python workers) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description="crowdsorsa engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--short", action="store_true",
        help="the shorter window a traced run measures (one warm query_mix pass); "
        "--trace 1 sets it, and passes it to its untraced reference",
    )
    args = ap.parse_args()
    # a terminated run still stops its JVM and mock API and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "crowdsorsa_etl_spark")):
        print("perfbench: run from a checkout that holds crowdsorsa_etl_spark/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    attempted = failed = 0
    untraced = None
    if args.trace:
        # the untraced reference is a run of its own, in a fresh JVM like
        # the traced one, so the difference is the tracing alone
        ref = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
             "--short"],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        if ref.returncode != 0:
            print(ref.stdout, end="", file=sys.stderr)
            print("perfbench: the untraced reference run failed", file=sys.stderr)
            return 1
        result = json.loads(ref.stdout.splitlines()[-1])
        untraced = {k: v["value"] for k, v in result["metrics"].items()}
        attempted, failed = result["attempted"], result["failed"]

    nproc = len(os.sched_getaffinity(0))
    runs_dir = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(runs_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work, nproc)
    try:
        e2e, layers, wl, tracer = measure(
            args.workload, args.seed, args.seconds, bool(args.trace),
            bool(args.trace) or args.short, work, nproc,
        )
        if args.trace:
            for metric, value in untraced.items():
                layers[f"trace_overhead.{metric}"] = e2e[metric] - value
            tracer.write(os.path.join(runs_dir, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    attempted += wl.attempted + wl.checks.attempted
    failed += wl.failed + len(wl.checks.failures)
    if args.trace:
        wanted, values = spec["per_layer"], layers
    else:
        wanted, values = spec["end_to_end"], e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    for metric, (alias, unit) in ISSUE_NAMES[args.workload].items():
        print(f"# {args.workload} {alias} = {e2e[metric]:.4f} {unit}")
    for failure in wl.checks.failures:
        print(f"# FAILED CHECK: {failure}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
