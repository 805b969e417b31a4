"""Spans around calls into the package, with Spark's own counters.

The package itself is not instrumented: the benchmark wraps each call
into a layer in ``Tracer.span(layer)``. Untraced, a span only times the
call. Traced, it also

- gives the call its own job group ``<layer>#<seq>`` and restores the
  caller's group afterwards, so a second call of the same layer never
  counts the first call's jobs;
- reads, after the call, the jobs of that group from
  ``statusTracker`` and their stages from the ``AppStatusStore``:
  jobs, tasks, executor run and CPU time, input, output and shuffle
  bytes, spill, and driver time (wall time no job of the call covered);
- reads the CPU time of the JVM's child processes (the Python workers
  that run UDFs) before and after the call, which the executor CPU
  counter does not include.

Counters are summed per layer in ``Tracer.layers``; spans stay in
memory (``Tracer.spans``) until the run ends.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from dataclasses import dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "input_mb", "output_mb", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "driver_s", "python_cpu_s",
)
_MB = 1024.0 * 1024.0
_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@dataclass
class Span:
    layer: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """``enabled=False`` gives wall times only and touches no Spark
    state, so untraced runs pay nothing for the instrument."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.layers: dict[str, dict] = {}
        self.overhead_s = 0.0
        self._seq = 0
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, layer: str):
        sp = Span(layer, time.perf_counter())
        if not self.enabled:
            try:
                yield sp
            finally:
                sp.end = time.perf_counter()
                self._record(sp)
            return
        sc = self.spark.sparkContext
        with self._lock:
            self._seq += 1
            group = f"{layer}#{self._seq}"
        t0 = time.perf_counter()
        prev = (sc.getLocalProperty(_GROUP), sc.getLocalProperty(_DESC))
        sc.setJobGroup(group, group)
        jvm = sc._gateway.proc.pid
        cpu0 = worker_cpu_s(jvm)
        sp.start = time.perf_counter()
        before = sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            t0 = time.perf_counter()
            sc.setLocalProperty(_GROUP, prev[0])
            sc.setLocalProperty(_DESC, prev[1])
            sp.counters = self._counters(group, sp)
            sp.counters["python_cpu_s"] = worker_cpu_s(jvm) - cpu0
            with self._lock:
                self.overhead_s += before + time.perf_counter() - t0
            self._record(sp)

    def _record(self, sp: Span) -> None:
        with self._lock:
            self.spans.append(sp)
            agg = self.layers.setdefault(
                sp.layer, {"calls": 0, "wall_s": 0.0, **{c: 0 for c in COUNTERS}}
            )
            agg["calls"] += 1
            agg["wall_s"] += sp.wall_s
            for c, v in sp.counters.items():
                agg[c] += v

    def _counters(self, group: str, sp: Span) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        intervals = []
        for jid in job_ids:
            jd = store.job(jid)
            ids = jd.stageIds().mkString(",")
            stage_ids.update(int(s) for s in ids.split(",") if s)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = len(job_ids)
        if stage_ids:
            stages = store.stageList(
                None, False, False, getattr(store, "stageList$default$4")(), None
            )
            it = stages.iterator()
            while it.hasNext():
                st = it.next()
                if st.stageId() not in stage_ids or st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["input_mb"] += st.inputBytes() / _MB
                out["output_mb"] += st.outputBytes() / _MB
                out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                out["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / _MB
        out["driver_s"] = max(0.0, sp.wall_s - _covered(intervals))
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
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


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds of it and its reaped children)."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        out[int(e)] = (int(f[1]), sum(int(x) for x in f[11:15]) / tick)
    return out


def descendants(pid: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, (pp, _cpu) in table.items() if pp == p]
        out += kids
        todo += kids
    return out


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by every process below the JVM."""
    table = _proc_table()
    return sum(table[p][1] for p in descendants(jvm_pid, table) if p in table)
