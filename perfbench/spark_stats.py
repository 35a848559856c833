"""What the Spark JVM did, read from outside the engine.

Job and stage metrics come from Spark's status REST API
(``/api/v1/applications/<app>/jobs``, ``/stages``, ``/storage/rdd``),
attributed to benchmark operations through job groups. Memory comes
from ``/proc`` of the driver JVM, which in local mode also runs every
executor, and from the JVM's own peak memory figures
(``/allexecutors`` ``peakMemoryMetrics``).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import urllib.parse
import urllib.request
from collections import defaultdict

MB = 1024 * 1024
#: Heartbeat interval the benchmark sets; each heartbeat reports the
#: memory peaks polled since the last one.
HEARTBEAT_S = 1.0
#: How often the JVM polls its memory figures for those peaks.
POLL_MS = 100

#: Per-stage REST fields summed into the ``exec.*`` layer metrics,
#: with the scale that turns each into the metric's unit.
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1 / MB),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / MB),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / MB),
    "spill_mb": ("diskBytesSpilled", 1 / MB),
}


def _ts(text: str | None) -> float | None:
    if not text:
        return None
    return dt.datetime.strptime(
        text.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


#: ``peakMemoryMetrics`` fields reported, in MB, as ``memory.*``.
PEAK_FIELDS = {
    "heap_used_mb": ("JVMHeapMemory",),
    "execution_mb": ("OnHeapExecutionMemory", "OffHeapExecutionMemory"),
    "storage_mb": ("OnHeapStorageMemory", "OffHeapStorageMemory"),
}


def _rest_get(sc, path: str):
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def peak_memory_mb(spark) -> dict[str, float]:
    """The driver JVM's peaks so far: heap used, and the execution and
    storage memory Spark's memory manager granted (operator buffers and
    cached blocks). Read after the next heartbeat, which carries the
    peaks polled since the last."""
    sc = spark.sparkContext
    time.sleep(HEARTBEAT_S * 1.5)
    peaks = next(
        e["peakMemoryMetrics"] for e in _rest_get(sc, "/allexecutors")
        if e["id"] == "driver"
    )
    return {
        name: sum(peaks.get(f, 0) for f in fields) / MB
        for name, fields in PEAK_FIELDS.items()
    }


class SparkStats:
    """Status-API reader bound to one live SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._groups: set[str] = set()

    def _get(self, path: str):
        return _rest_get(self.sc, path)

    def settle(self, timeout_s: float = 30.0) -> list[dict]:
        """The REST job list, once it holds every job of every tagged
        group as finished (the status store trails the scheduler)."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = self._get("/jobs")
            done = {j["jobId"] for j in jobs if j["status"] != "RUNNING"}
            ids = {i for g in self._groups for i in tracker.getJobIdsForGroup(g)}
            if ids <= done or time.monotonic() > deadline:
                return jobs
            time.sleep(0.05)

    def tag(self, group: str) -> None:
        """Attribute the jobs this thread starts next to ``group``."""
        self._groups.add(group)
        self.sc.setJobGroup(group, group)

    def group_totals(self) -> dict[str, dict]:
        """Per job group: jobs, job seconds, stages, tasks and the
        summed ``STAGE_FIELDS`` of every stage that ran."""
        jobs = sorted(self.settle(), key=lambda j: j["jobId"])
        stages = {
            s["stageId"]: s for s in self._get("/stages?status=complete")
        }
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        seen: set[int] = set()
        for j in jobs:
            g = out[j.get("jobGroup") or ""]
            g["jobs"] += 1
            start, end = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
            if start and end:
                g["job_s"] += end - start
            for sid in j["stageIds"]:
                s = stages.get(sid)
                if s is None or sid in seen:
                    continue
                seen.add(sid)
                g["stages"] += 1
                g["tasks"] += s["numCompleteTasks"]
                for name, (field, scale) in STAGE_FIELDS.items():
                    g[name] += s.get(field, 0) * scale
        return out

    def cached_mb(self) -> float:
        """Memory plus disk held by cached RDDs and DataFrames now."""
        return sum(
            r.get("memoryUsed", 0) + r.get("diskUsed", 0)
            for r in self._get("/storage/rdd")
        ) / MB


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def peak_rss_mb(pid: int) -> float:
    """The kernel's high-water mark of the process's resident set."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def child_pids(pid: int) -> list[int]:
    """Direct children of ``pid`` (the JVM's Python workers)."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(entry))
    return out
