#!/usr/bin/env python3
"""Benchmark of the geowombat_spark engine on ``local[nproc]``.

Run from the root of a checkout:

    python3 perfbench/run.py --workload aoi_queries --seed 1 --seconds 6 --trace 0

Workloads: ``aoi_queries``, ``vector_batch``, ``tile_sink`` (see README.md).
With ``--trace 0`` the run reports the end-to-end metrics; with
``--trace 1`` the Spark event log is on for the whole run, and after the
untraced pass the same operations run again with spans bound to Spark job
groups; the run reports the per-layer metrics and the tracing overhead
(traced minus untraced time of the same operations). A summary table goes to stdout first; the last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. All scratch data lives under ``.perfbench_work/`` in the
checkout and is removed at exit; traced runs keep their span file there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-ups per run; setup_s is their median
N_SETUPS = 3
#: driver heap, fixed (-Xms = -Xmx) and touched at start, so the JVM's
#: resident size does not depend on when the collector grows the heap
DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "req_p50_ms": "ms",
    "req_p90_ms": "ms",
    "req_per_s": "1/s",
    "docs_per_s": "1/s",
    "stored_bytes_per_doc": "bytes",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "sources.session_s": "s",
    "sources.corpus_write_s": "s",
    "sources.corpus_bytes": "bytes",
    "extract.points_p50_ms": "ms",
    "extract.points_p90_ms": "ms",
    "extract.tiles_per_req": "count",
    "extract.shuffle_bytes_per_req": "bytes",
    "extract.polygons_s": "s",
    "extract.sample_points": "count",
    "sops.subset_p50_ms": "ms",
    "sops.clip_p50_ms": "ms",
    "sops.rows_per_req": "count",
    "sops.mask_s": "s",
    "sops.mask_hit_ratio": "ratio",
    "grid.pip_mpts_per_s": "Mpts/s",
    "grid.touch_mpts_per_s": "Mpts/s",
    "grid.zorder_mpts_per_s": "Mpts/s",
    "grid.kring_mpts_per_s": "Mpts/s",
    "grid.pip_edge_tests": "count",
    "focal.moving_s": "s",
    "focal.halo_rows_ratio": "ratio",
    "knn.join_s": "s",
    "knn.candidates_per_query": "count",
    "knn.useful_ratio": "ratio",
    "checkpoint.write_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.verify_s": "s",
    "checkpoint.batches": "count",
    "checkpoint.files_written": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.hot_tile_files": "count",
    "compact.s": "s",
    "compact.tiles_rewritten": "count",
    "compact.bytes_rewritten": "bytes",
    "compact.files_per_tile_after": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.busy_ratio": "ratio",
    "spark.task_skew": "ratio",
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_log: str | None):
    """A fresh SparkSession on local[nproc]. The first call also launches
    the JVM, so driver memory and the JVM temp dir are fixed there."""
    from geowombat_spark.sources.tables import get_spark

    extra = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": " ".join(
            [
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                f"-Xms{DRIVER_MEMORY}",
                "-XX:+AlwaysPreTouch",
                # client compiler only: see README.md, "Sizes, memory and fixed settings"
                "-XX:TieredStopAtLevel=1",
            ]
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra["spark.eventLog.dir"] = event_log
        extra["spark.eventLog.compress"] = "false"
        extra["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(
        app="perfbench", master=f"local[{cores()}]", shuffle_partitions=2 * cores(), extra=extra
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the SparkContext and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on end of input
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def run(args, work: str) -> dict:
    from spans import Tracer, parse_event_logs, spark_metrics, tree_peak_rss_mb
    from workloads import WORKLOADS, Ctx, median, percentile

    wl = WORKLOADS[args.workload](args.seed)
    tracer = Tracer(enabled=False)
    ctx = Ctx(seconds=args.seconds, work=work, tracer=tracer)

    # Set-up: session start and input build, N_SETUPS times (each on a new
    # SparkContext; the first also launches the JVM), then one warm-up of
    # every request type and UDF path before the measured loop. Traced runs
    # keep the event log on from the start, so both of their passes pay it.
    events = os.path.join(work, "events") if args.trace else None
    setups = []
    for i in range(N_SETUPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        with tracer.span("setup") as sp:
            with tracer.span("sources.session"):
                ctx.spark = start_session(work, events)
            wl.build(ctx)
        setups.append(sp.seconds)
    with tracer.span("warmup") as warm:
        wl.warm(ctx)
    log(f"set-ups {', '.join(f'{s:.2f}' for s in setups)} s; warm-up {warm.seconds:.2f} s")

    first_op = len(tracer.spans)
    m = wl.measure(ctx)
    log("ops " + " ".join(f"{s.name}={1e3 * s.seconds:.0f}" for s in tracer.spans[first_op:] if s.attrs.get("op")))
    rss = tree_peak_rss_mb(jvm_pid())
    lat = m.latencies
    busy = sum(lat)
    for e in m.errors:
        log(f"FAILED {e}")
    report = {
        "workload": args.workload,
        "operations": len(lat),
        "units": m.units,
        "failed": m.failed,
        "fail_ratio": m.failed / max(len(lat), 1),
        "ops_above_p90": sum(1 for x in lat if x > percentile(lat, 90)),
    }
    if not args.trace:
        metrics = {
            "setup_s": statistics.median(setups) + warm.seconds,
            "req_p50_ms": 1e3 * median(lat),
            "req_p90_ms": 1e3 * percentile(lat, 90),
            "req_per_s": len(lat) / busy,
            "docs_per_s": m.docs / busy,
            "stored_bytes_per_doc": m.stored_bytes_per_doc,
            "peak_rss_mb": rss,
        }
        units = END_TO_END
        attempted, failed = len(lat), m.failed
    else:
        # replay the same operations with spans bound to Spark job groups
        tracer.enabled = True
        tracer.bind(ctx.spark)
        first_op = len(tracer.spans)
        mt = wl.measure(ctx, n=m.units)
        extras = wl.traced_extras(ctx)
        ctx.spark.stop()
        groups = parse_event_logs(events)
        ops = [s for s in tracer.spans[first_op:] if s.attrs.get("op")]
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics.update(
            {
                "sources.session_s": median([s.seconds for s in tracer.named("sources.session")]),
                "sources.corpus_write_s": median([s.seconds for s in tracer.named("sources.corpus_write")]),
                "sources.corpus_bytes": float(ctx.corpus_bytes),
                "trace.overhead_s": sum(mt.latencies) - busy,
                "trace.overhead_ratio": (sum(mt.latencies) - busy) / busy,
            }
        )
        metrics.update(wl.layer_metrics(mt))
        metrics.update(extras)
        metrics.update(spark_metrics(tracer, groups, ops, cores()))
        points = [s for s in ops if s.name == "extract.points"]
        if points:
            metrics["extract.shuffle_bytes_per_req"] = spark_metrics(tracer, groups, points, cores())[
                "spark.shuffle_write_bytes"
            ]
        units = PER_LAYER
        attempted, failed = len(lat) + len(mt.latencies), m.failed + mt.failed
        report["traced_failed"] = mt.failed
        trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    return {
        "report": report,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        },
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["aoi_queries", "vector_batch", "tile_sink"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=6.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    import geowombat_spark  # noqa: F401  (the engine must be in the checkout)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every temp file of this process, the JVMs and the Python workers stays
    # inside the checkout; no JVM writes its perf-data file to /tmp
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -XX:-UsePerfData".strip()
    t0 = time.perf_counter()
    try:
        out = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    log(f"run took {time.perf_counter() - t0:.1f} s")
    for k, v in out["report"].items():
        print(f"{k:>24}: {v}")
    for k, v in out["result"]["metrics"].items():
        print(f"{k:>30}: {v['value']:.6g} {v['unit']}")
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
