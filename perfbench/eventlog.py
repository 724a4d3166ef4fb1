"""Spark event log: capture one traced pass and total it per job group.

The capture attaches Spark's own ``EventLoggingListener`` to a running
session and detaches it afterwards, so one session can run an untraced
pass and then a traced one and the difference is the tracing cost.
The log is written uncompressed: one JSON event per line.

``parse`` totals jobs, stages and task metrics per job group. The
benchmark sets the job group to the query name around each query;
Spark sets a streaming query's micro-batch jobs to the stream's run id,
which the caller maps back to the query.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections.abc import Iterable
from dataclasses import dataclass, fields

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_ms: int = 0
    task_cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_fetch_wait_ms: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0

    def add(self, other: "Totals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))

    def metrics(self) -> dict[str, float]:
        out = {f.name: getattr(self, f.name) for f in fields(self)}
        out["cpu_share"] = (
            self.task_cpu_ms / self.task_run_ms if self.task_run_ms else 0.0
        )
        return out


def parse(lines: Iterable[str]) -> dict[str | None, Totals]:
    """Per job group totals of one event log. Stages and tasks are
    attributed through the group their stage was submitted under; a
    stage submitted outside any group lands under ``None``."""
    out: dict[str | None, Totals] = {}
    stage_group: dict[tuple[int, int], str | None] = {}

    def totals(group: str | None) -> Totals:
        return out.setdefault(group, Totals())

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            totals((ev.get("Properties") or {}).get(GROUP_KEY)).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            totals(stage_group.get(key)).stages += 1
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            t = totals(stage_group.get(key))
            t.tasks += 1
            m = ev.get("Task Metrics")
            if not m:
                continue  # a task that failed before reporting metrics
            sr = m.get("Shuffle Read Metrics", {})
            t.task_run_ms += m.get("Executor Run Time", 0)
            t.task_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            t.gc_ms += m.get("JVM GC Time", 0)
            t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            t.shuffle_fetch_wait_ms += sr.get("Fetch Wait Time", 0)
            t.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            t.spill_bytes += m.get("Disk Bytes Spilled", 0)
            t.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return out


class Capture:
    """Attach an ``EventLoggingListener`` writing under ``log_dir`` to a
    live SparkContext; ``stop`` flushes it and returns the log path."""

    def __init__(self, spark, log_dir: str):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        conf = self._jsc.conf().clone()
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.rolling.enabled", "false")
        os.makedirs(log_dir, exist_ok=True)
        self._dir = log_dir
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"perfbench-{os.getpid()}-{time.time_ns()}",
            jvm.scala.Option.apply(None),
            jvm.java.net.URI(f"file://{os.path.abspath(log_dir)}"),
            conf,
            sc._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        self._jsc.addSparkListener(self._listener)

    def stop(self) -> str:
        self._jsc.listenerBus().waitUntilEmpty()
        self._jsc.removeSparkListener(self._listener)
        self._listener.stop()
        logs = [
            p for p in glob.glob(os.path.join(self._dir, "*"))
            if not p.endswith(".inprogress")
        ]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log in {self._dir}: {logs}")
        return logs[0]
