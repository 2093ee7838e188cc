"""Measurement helpers: spans, Spark status-store readings, process RSS.

All readings come from outside the engine: Spark's status tracker and
status store (which work with the UI disabled), streaming progress
objects, and ``/proc``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import uuid
from contextlib import contextmanager

#: Physical operators that are plan plumbing, not work that whole-stage
#: codegen could have fused.
_STRUCTURAL = {
    "AdaptiveSparkPlan", "WholeStageCodegen", "InputAdapter",
    "ShuffleQueryStage", "BroadcastQueryStage", "TableCacheQueryStage",
    "ResultQueryStage", "AQEShuffleRead", "Exchange", "ShuffleExchange",
    "BroadcastExchange", "ReusedExchange", "ColumnarToRow",
    "InMemoryTableScan", "Subquery", "SubqueryBroadcast", "ReusedSubquery",
}


class Tracer:
    """In-memory spans: name, start, end, parent and counts. Every span
    of one run carries the run's id; :meth:`dump` writes them once."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        rec = {"run": self.run_id, "id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "counts": counts}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


def drain_listener(spark) -> None:
    """Wait until the status listener has seen every finished task, so
    the status store reads below are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def group_stats(spark, group: str) -> dict:
    """Job, stage and task totals of one job group, from the status
    tracker (job ids) and status store (last attempt of each stage)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
           "gc_s": 0.0, "failed_tasks": 0, "scan_bytes": 0, "scan_rows": 0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "task_skew": 1.0}
    widest = None
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            try:
                sd = store.lastStageAttempt(int(sid))
            except Exception:  # stage skipped: its shuffle output was reused
                continue
            if sd.numTasks() == 0 or str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["scan_bytes"] += sd.inputBytes()
            out["scan_rows"] += sd.inputRecords()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if widest is None or sd.numTasks() > widest[0]:
                widest = (sd.numTasks(), int(sid), sd.attemptId())
    if widest is not None and widest[0] > 1:
        tasks = store.taskList(widest[1], widest[2], widest[0])
        times = sorted(tasks.apply(i).taskMetrics().get().executorRunTime()
                       for i in range(tasks.size())
                       if tasks.apply(i).taskMetrics().isDefined())
        if times and times[len(times) // 2] > 0:
            out["task_skew"] = times[-1] / times[len(times) // 2]
    return out


_NODE = re.compile(r"^[\s:|+\-]*(\*\(\d+\)\s*)?([A-Za-z][A-Za-z0-9]*)")


def non_codegen_ops(plan_string: str) -> int:
    """Physical operators outside whole-stage codegen in an executed
    plan's tree string (codegen'd operators carry a ``*(n)`` prefix)."""
    count = 0
    for line in plan_string.splitlines():
        m = _NODE.match(line)
        if not m or m.group(1):
            continue
        name = m.group(2)
        if name.endswith("Exec"):
            name = name[:-4]
        if name in _STRUCTURAL or name in ("Scan", "LocalTableScan"):
            continue
        if line.lstrip(" :|+-").startswith(("Output", "Arguments")):
            continue
        count += 1
    return count


def cached_bytes(spark) -> int:
    """Memory + disk bytes of every persisted RDD block."""
    total = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        total += info.memSize() + info.diskSize()
    return total


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) ticks of all CPUs since boot, from ``/proc/stat``.
    Stolen ticks are time the hypervisor gave this machine's virtual CPUs
    to other guests: the host's own load, which no run controls."""
    with open("/proc/stat") as fh:
        ticks = [int(t) for t in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(p) for p in fh.read().split()]
    except OSError:
        return []


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> tuple[float, int]:
    """RSS of a process and all of its descendants, in MB, and the
    number of descendants."""
    total, todo, n = 0, [root_pid], -1
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(_children(pid))
        n += 1
    return total / 1024.0, n


class RssSampler:
    """Samples the RSS of the Spark JVM and its Python workers on a
    background thread; :attr:`peak_mb` is the highest sum seen."""

    def __init__(self, interval: float = 0.25) -> None:
        self.peak_mb = 0.0
        self.peak_children = 0
        self._interval = interval
        self._pid: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self, jvm_pid: int) -> None:
        self._pid = jvm_pid
        self._thread.start()

    def _sample(self) -> None:
        mb, children = tree_rss_mb(self._pid)
        if mb > self.peak_mb:
            self.peak_mb, self.peak_children = mb, children

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def stop(self) -> float:
        if self._pid is not None:
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()
        return self.peak_mb
