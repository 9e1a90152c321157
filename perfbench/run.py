"""Benchmark of the dbt_repo_spark package, measured from outside it.

    python3 perfbench/run.py --workload {gbfs_ticks,query_mix} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The session is ``local[<cores>]`` with one
Spark thread per core the process may use. Inputs are generated from the
seed into a directory under ``.perfbench_work/``, removed at the end of the
run; only the newest untraced result and a traced run's spans stay there.
Every operation's output is checked outside the timed region; a failed
check counts the operation in ``failed``.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (see BENCHMARK.json and
perfbench/README.md). The line before it is the full record: host and
protocol, sample counts, per-operation detail.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
CORES = len(os.sched_getaffinity(0))


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile, as ``statistics.quantiles(n=100)`` places it."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def configure_environment(work: str) -> None:
    """Keep every file Spark, Python and the JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, the spark-submit launcher included: no /tmp perf-data files
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")))
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the package sizes the driver heap from the host unless this is set
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    sys.path.insert(0, ROOT)


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def untraced_geomean(args) -> float:
    """``latency_geomean_s`` of the newest untraced run of this workload in this
    checkout; when there is none, make one now (same seed and length)."""
    path = os.path.join(WORK_ROOT, f"untraced-{args.workload}.json")
    if not os.path.exists(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            check=True, stdout=subprocess.DEVNULL, timeout=170,
        )
    with open(path) as fh:
        return json.load(fh)["latency_geomean_s"]


def measure(args, work: str) -> tuple[dict, dict]:
    """Run one workload; returns (metrics by name, record)."""
    setup_start = time.perf_counter()
    configure_environment(work)
    from dbt_repo_spark.session import get_spark  # fails fast outside a checkout

    import tracing
    import workloads

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=tracing.spark_conf(work, bool(args.trace)),
    )
    spark.range(1).count()
    session_start_s = time.perf_counter() - t
    for logger in ("org.apache.spark.sql.execution.CacheManager",
                   "org.apache.spark.rdd.MapPartitionsRDD"):
        spark._jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            logger, spark._jvm.org.apache.logging.log4j.Level.ERROR)
    jvm = tracing.jvm_pid(spark)
    tracer = tracing.Tracer(spark, bool(args.trace))

    workload = workloads.WORKLOADS[args.workload]
    spark_version = spark.version
    try:
        result = workload(spark, tracer, work, args.seed, args.seconds, setup_start)
        rss_mb = tracing.peak_rss_mb(jvm)
    finally:
        stop_session(spark)
    if args.workload == "query_mix":
        workloads.check_query_outputs(result)

    ops = result.ops
    latencies = result.best_latencies()
    everything = result.warmup + ops
    metrics = {
        "setup_s": result.setup["setup_s"],
        "latency_geomean_s": statistics.geometric_mean(latencies),
        "latency_mean_s": statistics.fmean(latencies),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {
            "nproc": os.cpu_count(),
            "cores_used": CORES,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark": spark_version,
            "python": platform.python_version(),
            "platform": platform.platform(),
        },
        "protocol": {
            "loop": "closed, one client, one process",
            "master": f"local[{CORES}]",
            "latency_samples": "each distinct measured operation's best latency "
                               "over its repeats",
            "latency_aggregates": "geometric and arithmetic mean, median and "
                                  "statistics.quantiles(n=100, method='inclusive') "
                                  "p90 over the samples",
            "samples": len(latencies),
            "executions": len(ops),
            "warmup_ops": len(result.warmup),
        },
        "ops_attempted": len(everything),
        "ops_failed": sum(op.failed for op in everything),
        "setup": {"session.start_s": session_start_s, **result.setup},
        "detail": result.detail,
        "ops": [{"name": op.name, "latency_s": op.latency, "failed": op.failed,
                 **op.detail} for op in everything],
    }
    n = len(latencies)
    if args.workload == "gbfs_ticks":
        named = {"tick_p50_s": (statistics.median(latencies), "s", n),
                 "tick_p90_s": (percentile(latencies, 90), "s", n),
                 "full_refresh_s": (result.setup["runner.full_refresh_s"], "s", 1)}
    else:
        passes = result.detail["passes_s"]
        named = {"query_p50_s": (statistics.median(latencies), "s", n),
                 "query_p90_s": (percentile(latencies, 90), "s", n),
                 "pass_s": (statistics.median(passes), "s", len(passes))}
    record["named"] = {
        "setup_s": (metrics["setup_s"], "s", 1), **named,
        "peak_rss_mb": (rss_mb, "MB", 1),
        "ops_attempted": (record["ops_attempted"], "count", 1),
        "ops_failed": (record["ops_failed"], "count", 1),
    }
    if args.trace:
        record["per_layer"] = per_layer(args, work, tracer, result, session_start_s,
                                        rss_mb, metrics["latency_geomean_s"])
    return metrics, record


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_layer(args, work, tracer, result, session_start_s, rss_mb, traced_geomean) -> dict:
    import tracing
    import workloads

    ops = result.ops
    indices = {op.index for op in ops}
    counts = tracing.event_log_counts(os.path.join(work, "eventlog"), tracer.stream_groups)
    per_op = {i: dict.fromkeys(tracing.SPARK_COUNTERS, 0) for i in indices}
    for group, c in counts.items():
        head = group.split(":", 1)[0]
        op = int(head[2:]) if head[2:].isdigit() else None
        if op in per_op:
            for key in tracing.SPARK_COUNTERS:
                per_op[op][key] += c[key]
    layer = {"session.start_s": session_start_s, "memory.peak_rss_mb": rss_mb}
    for key in ("sources.backlog_load_s", "sources.trips_load_s", "runner.full_refresh_s"):
        layer[key] = result.setup.get(key, 0.0)
    for key in ("sources.raw_load_s", "sources.writes", "sources.bytes_written",
                "streaming.tick_s", "streaming.rows_in", "streaming.rows_out",
                "streaming.state_rows", "runner.run_s", "runner.test_s",
                "runner.new_row_ratio", "queries.build_s", "queries.exec_s"):
        layer[key] = mean(op.detail.get(key, 0.0) for op in ops)
    writes = [s for s in tracer.spans if s.op in indices and s.name.startswith("catalog.write:")]
    layer["sources.write_s"] = sum(s.end - s.start for s in writes) / len(ops)
    for model in workloads.PERSISTED_MODELS:
        layer[f"runner.model_s.{model}"] = sum(
            s.end - s.start for s in writes if s.name == f"catalog.write:{model}") / len(ops)
    for key in tracing.SPARK_COUNTERS:
        layer[f"spark.{key}"] = mean(c[key] for c in per_op.values())
    layer["spark.idle_core_s"] = mean(
        CORES * op.latency - per_op[op.index]["executor_run_s"] for op in ops)
    self_times = tracer.self_times(indices)
    for name in ("sources", "streaming", "runner", "queries"):
        layer[f"self_s.{name}"] = self_times.get(name, 0.0) / len(ops)
    layer["trace.spans"] = sum(s.op in indices for s in tracer.spans) / len(ops)
    layer["trace.overhead_ratio"] = traced_geomean / untraced_geomean(args) - 1
    tracer.dump(os.path.join(WORK_ROOT, f"spans-{args.workload}-{args.seed}.jsonl"))
    return layer


def declared_units(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=("gbfs_ticks", "query_mix"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        metrics, record = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values, units = record["per_layer"], declared_units("per_layer")
    else:
        values, units = metrics, declared_units("end_to_end")
        with open(os.path.join(WORK_ROOT, f"untraced-{args.workload}.json"), "w") as fh:
            json.dump(metrics, fh)
    out = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    for name, (value, unit, n) in record["named"].items():
        print(f"{args.workload} {name} = {value:.4f} {unit} (n={n})")
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": record["ops_failed"] == 0,
        "attempted": record["ops_attempted"],
        "failed": record["ops_failed"],
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
