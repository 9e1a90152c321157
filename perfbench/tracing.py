"""Measurement plumbing: spans, Spark job groups, event-log accounting, RSS.

The benchmark measures the package from outside. A ``Tracer`` wraps each
call into a package module in a span (name, layer, start, end, parent) and
runs it under its own Spark job group, so the session's event log can be
attributed per call. With tracing off every span is a no-op and no job
group is set, which is the configuration the end-to-end numbers come from.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import time
from dataclasses import dataclass

from dbt_repo_spark.sources.catalog import Catalog


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None
    group: str | None


class Tracer:
    """Keeps spans in memory; ``enabled=False`` makes every span free."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self.stream_groups: dict[str, str] = {}

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        group = f"op{self.op}:{name}"
        outer = self.spans[parent].group if parent is not None else None
        sc.setJobGroup(group, name)
        idx = len(self.spans)
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, self.op, group))
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if outer is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(outer, outer)

    def bind_stream(self, run_id: str) -> None:
        """Attribute a streaming query's jobs (grouped by its run id) to
        the innermost open span."""
        if self.enabled and self._stack:
            self.stream_groups[run_id] = self.spans[self._stack[-1]].group

    def self_times(self, ops: set[int]) -> dict[str, float]:
        """Seconds per layer not covered by that span's child spans."""
        out: dict[str, float] = {}
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        for i, s in enumerate(self.spans):
            if s.op in ops:
                out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child_time[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class TracedCatalog(Catalog):
    """The Catalog the benchmark hands the package, timing every write.

    Each write runs in a ``catalog.write:<table>`` span, so a model's
    materialization shows as its own span inside ``runner.run``; the bytes
    of the files the write left behind are counted afterwards.
    """

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer
        self.writes = 0
        self.bytes_written = 0

    def write(self, df, layer, name, *args, **kwargs):
        start = time.time()
        with self.tracer.span(f"catalog.write:{name}", "sources"):
            super().write(df, layer, name, *args, **kwargs)
        self.writes += 1
        if self.tracer.enabled:
            for root, _dirs, files in os.walk(self.path(layer, name)):
                for f in files:
                    st = os.stat(os.path.join(root, f))
                    if st.st_mtime >= start:
                        self.bytes_written += st.st_size


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    """Session confs that keep Spark's files inside ``work``; a traced
    session also writes a plain-JSON event log there."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def event_log_counts(eventlog_dir: str, stream_groups: dict[str, str]) -> dict[str, dict]:
    """Per-job-group Spark counters parsed from a finished event log."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        return out.setdefault(group, dict.fromkeys(SPARK_COUNTERS, 0))

    for fname in os.listdir(eventlog_dir):
        with open(os.path.join(eventlog_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    group = stream_groups.get(group, group)
                    if group is None:
                        continue
                    job_group[ev["Job ID"]] = group
                    bucket(group)["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        bucket(group)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    metrics = ev.get("Task Metrics")
                    if group is None or not metrics:
                        continue
                    b = bucket(group)
                    b["tasks"] += 1
                    b["executor_run_s"] += metrics["Executor Run Time"] / 1000
                    rd = metrics.get("Shuffle Read Metrics", {})
                    b["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0)
                    b["shuffle_write_bytes"] += metrics.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    b["spill_bytes"] += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                        "Disk Bytes Spilled", 0)
    return out


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024
