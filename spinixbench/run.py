"""Benchmark entry point.

    python3 spinixbench/run.py --workload geofence --seed 1 --seconds 15 --trace 0

Runs one workload as one process on ``local[nproc]`` from inputs made
from ``--seed``, repeats whole rounds of its operations for
``--seconds`` of measured time, checks every output against the oracle
and prints, as the last line of stdout, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
Everything it writes goes under ``.spinixbench/`` in the checkout root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 4  # one cold session start, then warm restarts; setup_s is their median

WORKLOADS = ("geofence", "neardup", "stream")
END_TO_END = ["setup_s", "pages_per_s", "resume_s", "batch_p50_s", "state_bytes", "peak_rss_mb"]


class Checks:
    """Counts operations and failures. A failure the workload declares a
    known fault keeps ``correct`` true; any other failure, or an
    exception, makes it false."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.unexpected: list[str] = []

    def run(self, name: str, fn, known_fault=None) -> None:
        self.attempted += 1
        try:
            problems = fn()
        except Exception:  # a check that crashes counts as failed, the run goes on
            problems = ["raised: " + traceback.format_exc(limit=3)]
        if not problems:
            return
        self.failed += 1
        if known_fault is None or not known_fault(problems):
            self.unexpected.append(f"{name}: {problems[0]}")

    def lost(self, n: int, why: str) -> None:
        """Operations of a round that never reached their check."""
        self.attempted += n
        self.failed += n
        self.unexpected.append(why)


class Context:
    """What a workload needs from the run: its inputs and the tracer."""

    def __init__(self, inputs_dir: str, tracer) -> None:
        self.inputs = inputs_dir
        self.tracer = tracer


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_log: str | None):
    from pyspark.sql import SparkSession

    n = nproc()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("spinixbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData")
        .config("spark.sql.streaming.checkpointLocation", os.path.join(work, "ckpt"))
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Stop the JVM this process started and wait until it and every
    other descendant (the Python workers) have exited."""
    from pyspark import SparkContext

    from tracing import process_tree

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while process_tree() - {os.getpid()} and time.monotonic() < deadline:
        time.sleep(0.1)


def make_workload(name: str, ctx):
    if name == "geofence":
        from geofence import Geofence
        return Geofence(ctx)
    if name == "neardup":
        from neardup import Neardup
        return Neardup(ctx)
    from stream import Stream
    return Stream(ctx)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test must come from this checkout; fail before
    # any output when it is absent
    sys.path.insert(0, ROOT)
    import spinix_spark  # noqa: F401
    import pyspark  # noqa: F401

    import inputs
    from tracing import RssSampler, Tracer, parse_event_logs

    work = os.path.join(ROOT, ".spinixbench")
    run_dir = os.path.join(work, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # Python workers import the program from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # keep temporary files of Python, the launcher JVM and the driver JVM
    # inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    tracer = Tracer(bool(args.trace))
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    checks = Checks()
    spark = None
    try:
        with RssSampler() as rss:
            inputs_dir = inputs.ensure_inputs(work, args.workload, args.seed)
            ctx = Context(inputs_dir, tracer)
            wl = make_workload(args.workload, ctx)

            setups, compiles = [], []
            for i in range(SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = start_session(work, event_log if i == SETUPS - 1 else None)
                t1 = time.perf_counter()
                engines, compile_s = wl.build_engines()
                setups.append(time.perf_counter() - t0)
                compiles.append(compile_s)
                if i == 0:
                    cold_start_s = t1 - t0
            tracer.spark = spark

            measured = 0.0
            rounds = 0
            while rounds == 0 or measured < args.seconds:
                out = os.path.join(run_dir, f"round{rounds}")
                before = checks.attempted
                t0 = time.perf_counter()
                try:
                    with tracer.span("round"):
                        wl.run_round(spark, engines, out, checks)
                except Exception:
                    traceback.print_exc()
                    checks.lost(wl.ops_per_round() - (checks.attempted - before),
                                f"round {rounds} raised")
                measured += time.perf_counter() - t0
                rounds += 1
                shutil.rmtree(out, ignore_errors=True)

            extras = wl.trace_extras(spark, engines) if args.trace else {}
            spark.stop()
            spark = None

        if args.trace:
            groups = parse_event_logs(event_log)
            os.makedirs(os.path.join(work, "traces"), exist_ok=True)
            tracer.write(os.path.join(work, "traces", f"{args.workload}-s{args.seed}-spans.json"))
            metrics = layer_metrics(wl, tracer, groups, extras, compiles, cold_start_s,
                                    rss.peak_python_workers)
        else:
            metrics = {
                "setup_s": (statistics.median(setups), "s"),
                "peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
            }
            metrics.update(wl.metrics())
            metrics = {k: metrics[k] for k in END_TO_END}
        for u in checks.unexpected[:20]:
            print("CHECK FAILED:", u, file=sys.stderr)
        values = {k: float(v) for k, (v, _) in metrics.items()}
        missing = [k for k, v in values.items() if not math.isfinite(v)]
        if missing:  # no round produced these; there is no result to print
            print(f"no value for {', '.join(missing)}", file=sys.stderr)
            return 1
        result = {
            "correct": not checks.unexpected,
            "attempted": checks.attempted,
            "failed": checks.failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, (_, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def layer_metrics(wl, tracer, groups, extras, compiles, cold_start_s, python_workers) -> dict:
    """Every per-layer metric; a layer the workload does not call reads 0."""
    from tracing import merged

    def med(name):
        xs = wl.layer.get(name, [])
        return float(statistics.median(xs)) if xs else 0.0

    eng = merged(groups, "engine")
    text = merged(groups, "text")
    m = {
        "setup.cold_start_s": (cold_start_s, "s"),
        "dsl.compile_s": (statistics.median(compiles), "s"),
        "io.geoparse_s": (tracer.total("io.geoparse"), "s"),
        "io.points": (extras.get("io.points", med("io.points")), "count"),
        "io.no_coord_pages": (extras.get("io.no_coord_pages", med("io.no_coord_pages")), "count"),
        "io.sink_write_s": (merged(groups, "io.sink")["job_s"], "s"),
        "io.sink_bytes": (med("io.sink_bytes"), "bytes"),
        "engine.plan_s": (tracer.total("engine.plan"), "s"),
        "engine.planning_gap_s": (eng["planning_gap_s"], "s"),
        "engine.exchanges": (eng["exchanges"], "count"),
        "engine.python_nodes": (eng["python_nodes"], "count"),
        "engine.detect_sql_s": (extras.get("engine.detect_sql_s", 0.0), "s"),
        "engine.detect_kernel_s": (extras.get("engine.detect_kernel_s", 0.0), "s"),
        "engine.detect_at_s": (extras.get("engine.detect_at_s", 0.0), "s"),
        "engine.pruned_rows": (extras.get("engine.pruned_rows", 0), "count"),
        "engine.events": (extras.get("engine.events", 0), "count"),
        "engine.match_ratio": (extras.get("engine.match_ratio", 0.0), "ratio"),
        "engine.tiles_s": (tracer.total("engine.tiles"), "s"),
        "engine.shuffle_write_bytes": (eng["shuffle_write_bytes"], "bytes"),
        "engine.executor_run_s": (eng["executor_run_s"], "s"),
        "engine.task_skew": (eng["task_skew"], "ratio"),
        "engine.spill_bytes": (eng["spill_bytes"], "bytes"),
        "text.edges_cc_s": (tracer.total("text.edges_cc"), "s"),
        "text.keep_s": (tracer.total("text.keep"), "s"),
        "text.cc_jobs": (merged(groups, "text.edges_cc")["jobs"], "count"),
        "text.dropped": (med("text.dropped"), "count"),
        "text.recall": (med("text.recall"), "ratio"),
        "text.shuffle_write_bytes": (text["shuffle_write_bytes"], "bytes"),
        "text.task_skew": (text["task_skew"], "ratio"),
        "run.chunk_s": (med("run.chunk_s"), "s"),
        "run.pending_scan_s": (tracer.total("run.pending_scan"), "s"),
        "run.recomputed_chunks": (med("run.recomputed_chunks"), "count"),
        "spark.python_workers_peak": (python_workers, "count"),
        "trace.round_s": (float(statistics.median(tracer.durations("round") or [0.0])), "s"),
        "trace.layer_share": (tracer.child_share("round"), "ratio"),
    }
    for name in ("stream.add_batch_s", "stream.planning_s", "stream.detect_s", "stream.state_io_s",
                 "stream.keyed_batch_p50_s", "stream.keyed_add_batch_s"):
        m[name] = (med(name), "s")
    for name in ("stream.dirty_buckets", "stream.files_written", "stream.keyed_state_rows"):
        m[name] = (med(name), "count")
    m["stream.keyed_state_bytes"] = (med("stream.keyed_state_bytes"), "bytes")
    return m


if __name__ == "__main__":
    sys.exit(main())
