"""Measurement helpers: spans, Spark's status store, streaming progress
and peak resident memory. They observe the program from outside; no
package code is changed to take a measurement."""

from __future__ import annotations

import json
import math
import os
import resource
import statistics
import sys
import time
from contextlib import contextmanager

from yelp_streaming_etl_pipeline_spark.streaming.metrics import ThroughputListener


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress note on stderr, stamped with seconds since start-up."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


class Tracer:
    """In-memory spans around calls into the package's layers. Each
    span has a name, start, end and parent; when disabled, ``span`` is
    a no-op so the untraced run pays nothing. ``overhead_s`` is the
    time spent recording."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def self_seconds(self, first: int = 0) -> dict[str, float]:
        """Per span name, over the spans from index ``first`` on: summed
        duration minus the time its children cover (children of one
        span never overlap: calls are nested)."""
        spans = self.spans[first:]
        child_time: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class StatusStore:
    """Job, stage and task metrics read from Spark's own
    ``AppStatusStore``. ``stageList`` is called with its five-argument
    signature (statuses, details, withSummaries, unsortedQuantiles,
    taskStatus), the one pyspark 4.1 ships."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._gw = spark.sparkContext._gateway
        self._jvm = spark._jvm
        self._cores = spark.sparkContext.defaultParallelism

    def _store(self):
        self._sc.listenerBus().waitUntilEmpty()
        return self._sc.statusStore()

    def mark(self) -> tuple[int, int]:
        st = self._store()
        stages = st.stageList(None, False, False, self._gw.new_array(self._jvm.double, 0), None)
        top = stages.apply(0).stageId() if stages.size() else -1
        return st.jobsList(None).size(), top

    def jobs_since(self, mark: tuple[int, int]) -> list[str]:
        """Descriptions of the jobs started after ``mark``."""
        jobs = self._store().jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() < 0:
                continue
            out.append((j.jobId(), j.description()))
        out.sort()
        return [d.get() if d.isDefined() else "" for _, d in out[mark[0]:]]

    def since(self, mark: tuple[int, int], wall_s: float) -> dict[str, float]:
        st = self._store()
        stages = st.stageList(None, False, False, self._gw.new_array(self._jvm.double, 0), None)
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        tasks = run_ms = spill = shuffle = records = 0
        cpu_ns = 0
        skew_num = skew_den = 0.0
        for i in range(stages.size()):
            d = stages.apply(i)
            if d.stageId() <= mark[1]:
                break
            if d.status().toString() != "COMPLETE":
                continue
            tasks += d.numTasks()
            run_ms += d.executorRunTime()
            cpu_ns += d.executorCpuTime()
            shuffle += d.shuffleWriteBytes()
            spill += d.memoryBytesSpilled() + d.diskBytesSpilled()
            records += d.inputRecords()
            if d.numTasks() > 1 and d.executorRunTime() > 0:
                summ = st.taskSummary(d.stageId(), d.attemptId(), q)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    med, top = rt.apply(0), rt.apply(1)
                    if med > 0:
                        skew_num += d.executorRunTime() * top / med
                        skew_den += d.executorRunTime()
        return {
            "tasks": tasks,
            "executor_cpu_s": cpu_ns / 1e9,
            "core_busy_frac": run_ms / 1e3 / (wall_s * self._cores) if wall_s > 0 else 0.0,
            "shuffle_bytes": shuffle,
            "spill_bytes": spill,
            "input_records": records,
            # run-time-weighted max/median task time over multi-task stages
            "task_skew": skew_num / skew_den if skew_den else 1.0,
        }


class ProgressListener(ThroughputListener):
    """The package's ThroughputListener, also keeping each progress
    event's state-operator metrics and the time spent in the callback."""

    def __init__(self) -> None:
        super().__init__()
        self.callback_s = 0.0

    def onQueryProgress(self, event) -> None:  # noqa: N802
        t0 = time.perf_counter()
        super().onQueryProgress(event)
        p = event.progress
        self.progress[-1]["run_id"] = str(p.runId)
        self.progress[-1]["state"] = [
            {
                "op": s.operatorName,
                "rows_total": s.numRowsTotal,
                "rows_updated": s.numRowsUpdated,
                "memory_bytes": s.memoryUsedBytes,
                "dropped_by_watermark": s.numRowsDroppedByWatermark,
            }
            for s in (p.stateOperators or [])
        ]
        self.callback_s += time.perf_counter() - t0


def duration_p50(batches: list[dict], key: str) -> float:
    vals = [b["duration_ms"].get(key, 0) for b in batches]
    return float(statistics.median(vals)) if vals else 0.0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) spent so far by this Python process
    and by ``root_pid`` with every process under it (the JVM and its
    Python workers; reaped children included). The kernel keeps time
    stolen by the hypervisor out of these counters, so on a shared host
    the figure counts the program's own work, not its neighbours'."""
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:  # the process ended meanwhile
            continue
        stats[int(d)] = s[s.rindex(")") + 2:].split()
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += sum(int(x) for x in stats[pid][11:15])  # utime stime cutime cstime
        todo.extend(children.get(pid, []))
    t = os.times()
    return ticks * _TICK_S + t.user + t.system


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())
