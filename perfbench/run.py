"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload daily_monitor --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout of the repository. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` runs the same rounds
untraced and then traced, and prints the per-layer metrics. The spans
of a traced run are also written to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Per-layer metric names: every span in SPANS gets wall_s and jobs, the
# SERVICE_SPANS also self_s, the HEAVY_SPANS also the HEAVY_COUNTERS.
SERVICE_SPANS = ["service.profile_create_optimize", "service.optimize", "service.assess_new_ts"]
HEAVY_SPANS = [
    "profiler.profile",
    "anomaly.optimization.optimize",
    "repository.add_profiling",
    "repository.add_scoring",
    "operators.similarity.build_ivf_index",
    "operators.similarity.ivf_query_index",
    "operators.similarity.knn_graph",
    "operators.similarity.brute_force_topk",
    "operators.similarity.semdedup",
]
SPANS = SERVICE_SPANS + [
    "profiler.profile",
    "anomaly.optimization.optimize",
    "anomaly.scoring.score",
    "quality.assess_quality",
    "repository.add_dataset",
    "repository.get_dataset",
    "repository.add_profiling",
    "repository.select_profiling",
    "repository.add_optimization",
    "repository.get_optimization",
    "repository.add_scoring",
    "repository.select_scoring",
    "operators.similarity.build_ivf_index",
    "operators.similarity.ivf_query_index",
    "operators.similarity.knn_graph",
    "operators.similarity.brute_force_topk",
    "operators.similarity.semdedup",
]
HEAVY_COUNTERS = {
    "tasks": "count",
    "executor_cpu_ms": "ms",
    "shuffle_bytes": "bytes",
    "output_bytes": "bytes",
}
RUN_METRICS = {
    "repository.add_profiling.rows_written_per_new_row": "rows/row",
    "repository.files_after_run": "count",
    "session.cached_frames_after_run": "count",
    "session.jvm_peak_rss_mb": "MB",
    "session.python_peak_rss_mb": "MB",
    "tracing_overhead_s": "s",
}
END_TO_END_UNITS = {"setup_s": "s", "round_p50_s": "s", "round_cpu_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in a fixed order."""
    units = {}
    for span in SPANS:
        units[f"{span}.wall_s"] = "s"
        units[f"{span}.jobs"] = "count"
        if span in SERVICE_SPANS:
            units[f"{span}.self_s"] = "s"
        if span in HEAVY_SPANS:
            for c, u in HEAVY_COUNTERS.items():
                units[f"{span}.{c}"] = u
    units.update(RUN_METRICS)
    return units


def install_spans(tracer) -> None:
    """Wrap each layer's public functions at the names they are called
    by: the service's imports of the core flows, the repository's
    methods and the service flows the workloads call. The similarity
    functions return lazy frames, so the workloads open their spans
    around call and collect instead (``Tally.call(trace_as=...)``)."""
    from thoth_spark import service
    from thoth_spark.repository import MetricsRepository

    for attr, name in [
        ("_profile_core", "profiler.profile"),
        ("_optimize_core", "anomaly.optimization.optimize"),
        ("_score_core", "anomaly.scoring.score"),
        ("_assess_quality_core", "quality.assess_quality"),
        ("profile_create_optimize", "service.profile_create_optimize"),
        ("optimize", "service.optimize"),
        ("assess_new_ts", "service.assess_new_ts"),
    ]:
        tracer.install(service, attr, name)
    for span in SPANS:
        layer, _, fn = span.rpartition(".")
        if layer == "repository":
            rows_arg = 2 if fn == "add_profiling" else None
            tracer.install(MetricsRepository, fn, span, rows_arg=rows_arg)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the JVM")


def count_files(path: str | None) -> int:
    if not path or not os.path.isdir(path):
        return 0
    return sum(1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


def cached_frames(spark) -> int:
    jsc = spark.sparkContext._jsc
    return jsc.getPersistentRDDs().size() + spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def per_layer_metrics(spark, tracer, result, dump_name: str) -> dict:
    """Every per-layer metric of a traced run; a span the workload never
    opened reads 0. The spans themselves go to ``.perfbench_out/``."""
    tracer.resolve()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, dump_name))
    summary = tracer.summary()
    units = per_layer_units()
    values = {}
    for name in units:
        span, _, counter = name.rpartition(".")
        values[name] = float(summary.get(span, {}).get(counter, 0.0))
    values["repository.files_after_run"] = float(count_files(result.repo_path))
    values["session.cached_frames_after_run"] = float(cached_frames(spark))
    values["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    values["session.python_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    untraced, traced = result.overhead_pair
    values["tracing_overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from perfbench import workloads
    from thoth_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ.update(TZ="UTC", TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp)
    time.tzset()
    spark = None
    try:
        nproc = len(os.sched_getaffinity(0))
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{nproc}]",
            shuffle_partitions=nproc,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        tracer = None
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer(spark)
            install_spans(tracer)
        result = workloads.WORKLOADS[args.workload](
            spark, workdir, args.seed, args.seconds, tracer, T_START
        )
        if tracer is None:
            metrics = {
                k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in result.end_to_end().items()
            }
        else:
            metrics = per_layer_metrics(spark, tracer, result, f"trace-{args.workload}-seed{args.seed}.json")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(workdir))

    for note in result.tally.notes:
        print(f"note: {note}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": result.tally.wrong == 0,
                "attempted": result.tally.attempted,
                "failed": result.tally.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
