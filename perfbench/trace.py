"""Measurement plumbing: spans, Spark's job/stage ledger, the streaming
listener, and the host snapshot that flags contention.

Spans are recorded from the benchmark's own files only, around calls into
the engine's public functions (wrapped for the duration of a traced pass),
and are kept in memory until the run writes them out.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Replace ``module.attr`` with a span-recording wrapper named
        ``span`` for every (module, attr, span) target, then restore. The
        same function imported under one name into several engine modules
        is wrapped in each of them."""
        saved = []
        for module, attr, name in targets:
            fn = getattr(module, attr)
            saved.append((module, attr, fn))
            setattr(module, attr, self.wrap(fn, name))
        try:
            yield
        finally:
            for module, attr, fn in reversed(saved):
                setattr(module, attr, fn)

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {"id": i, "name": s.name, "parent": s.parent, "start": s.start - t0, "end": s.end - t0, **s.attrs}
            for i, s in enumerate(self.spans)
        ]


def engine_import_sites(fn, package: str = "tp1_distribuidos_mapreduce_spark") -> list[tuple[object, str]]:
    """Every (module, attribute) in the engine package bound to ``fn``."""
    sites = []
    for mod_name, module in list(sys.modules.items()):
        if module is None or not mod_name.startswith(package):
            continue
        for attr, value in list(vars(module).items()):
            if value is fn:
                sites.append((module, attr))
    return sites


# -- Spark's ledger ------------------------------------------------------------

_MB = 1024.0 * 1024.0


def _interval_union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Ledger:
    """Reads job, stage and task counts of a job group from the status
    tracker, and per-stage metrics (shuffle, spill, executor time, GC)
    from the status store. Spark keeps only ``spark.ui.retainedJobs``/
    ``retainedStages`` entries, so callers read each group right after the
    operation that fired it."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()

    def flush(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so stage metrics and streaming progress are complete."""
        self.bus.waitUntilEmpty()

    def group(self, group_id: str) -> dict:
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "task_attempts": 0,
            "job_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        }
        intervals = []
        for job_id in self.tracker.getJobIdsForGroup(group_id):
            out["jobs"] += 1
            try:
                job = self.store.job(job_id)
            except Py4JJavaError:  # evicted past spark.ui.retainedJobs
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            info = self.tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else []:
                try:
                    st = self.store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # evicted, or never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["task_attempts"] += st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                out["shuffle_read_mb"] += (st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) / _MB
                out["spill_mb"] += st.diskBytesSpilled() / _MB
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
        out["job_s"] = _interval_union(intervals)
        return out


def make_stream_listener():
    """A StreamingQueryListener that records each micro-batch's progress
    (runId, batchId, durationMs). Micro-batch jobs run under the stream's
    own job group, its runId, so the runIds recorded here are the groups
    whose jobs belong to a drain."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def __init__(self) -> None:
            self.run_ids: list[str] = []
            self.batches: list[dict] = []

        def onQueryStarted(self, event) -> None:
            self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.batches.append({"run_id": str(p.runId), "batch_id": p.batchId, "duration_ms": dict(p.durationMs)})

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def take(self) -> tuple[list[str], list[dict]]:
            runs, batches = self.run_ids, self.batches
            self.run_ids, self.batches = [], []
            return runs, batches

    return Recorder()


# -- host --------------------------------------------------------------------


def other_spark_jvms(own_pid: int | None) -> int:
    """Count live JVMs running a Spark driver other than this run's own."""
    n = 0
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) == own_pid:
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            n += 1
    return n


def canary_ms(repeats: int = 5) -> float:
    """Median time of a fixed single-threaded loop: how fast one core of
    this host runs right now. Inside a virtual machine, load from other
    guests shows here and in steal time, not in the load average."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append(time.perf_counter() - t0)
    return 1e3 * sorted(times)[repeats // 2]


def host_snapshot(own_pid: int | None) -> dict:
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {
        "loadavg_1m": os.getloadavg()[0],
        "other_spark_jvms": other_spark_jvms(own_pid),
        "canary_ms": canary_ms(),
        "cpu_jiffies": sum(cpu[:8]),
        "steal_jiffies": cpu[7],
    }


def steal_pct(start: dict, end: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    snapshots: the contention a virtual machine cannot see in its load."""
    total = end["cpu_jiffies"] - start["cpu_jiffies"]
    return 100.0 * (end["steal_jiffies"] - start["steal_jiffies"]) / total if total else 0.0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
