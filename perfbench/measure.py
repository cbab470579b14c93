"""Measurements taken from outside the engine.

- host and process probes read ``/proc``: CPU steal of the host, CPU
  seconds and peak RSS of the benchmark's process tree (the Python
  driver, the Spark JVM it launches, the JVM's Python workers and any
  process a MapleJuice pipe starts), and CPU seconds of the JVM's JIT
  compiler threads;
- JVM probes read the JMX compilation and garbage-collector beans over
  py4j;
- Spark counters come from the status tracker (jobs, stages, tasks of a
  job group) and from the JVM status store (scan, shuffle and spill
  bytes of those stages);
- :class:`Tracer` keeps spans in memory and writes them out once.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ host


def read_cpu_times() -> tuple[int, int]:
    """(steal, busy) jiffies of the host's aggregate ``cpu`` line, where
    busy is all non-idle time including steal (guest time is already
    inside user and nice)."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return steal, user + nice + system + irq + softirq + steal


def steal_frac(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of the CPU time this VM wanted between two readings that the
    host gave to other guests instead."""
    busy = b[1] - a[1]
    return (b[0] - a[0]) / busy if busy > 0 else 0.0


# --------------------------------------------------------- process tree


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User+system seconds of the live process tree, including children
    already reaped (so a finished Python worker or pipe still counts)."""
    total = 0
    for pid in pids or process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


#: HotSpot's JIT compiler threads, by their name as ``/proc`` truncates
#: it to 15 characters ("C2 CompilerThread0" -> "C2 CompilerThre")
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_jit_cpu_s(pids: list[int] | None = None) -> float:
    """User+system seconds of the JIT compiler threads in the process
    tree.  Only live threads count, so the JVM must keep its compiler
    threads for its whole life (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    total = 0
    for pid in pids or process_tree():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            head, _, tail = stat.rpartition(")")
            if head[head.index("(") + 1:].startswith(_JIT_THREADS):
                fields = tail.split()
                total += int(fields[11]) + int(fields[12])
    return total / _CLK_TCK


def reset_peak_rss(pids: list[int] | None = None) -> None:
    """Restart each process's peak-RSS count from its current RSS."""
    for pid in pids or process_tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def tree_peak_rss_mb(pids: list[int] | None = None) -> float:
    """Sum over the live process tree of each process's peak RSS."""
    total_kb = 0
    for pid in pids or process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ------------------------------------------------------------------ JVM


class Jvm:
    """JMX compilation and GC totals of the Spark driver JVM."""

    def __init__(self, spark) -> None:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def jit_s(self) -> float:
        return self._comp.getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        return sum(max(0, g.getCollectionTime()) for g in self._gcs) / 1000.0


# ---------------------------------------------------------- Spark counters

#: StageData getters summed per job group
STAGE_FIELDS = {
    "scan.bytes": "inputBytes",
    "scan.rows": "inputRecords",
    "shuffle.write_bytes": "shuffleWriteBytes",
    "shuffle.read_bytes": "shuffleReadBytes",
    "spill.bytes": "diskBytesSpilled",
}

#: python SQL metrics read from an executed plan
PYTHON_METRICS = {
    "python.rows": "pythonNumRowsReceived",
    "python.bytes": "pythonDataSent",
    "python.eval_s": "pythonTotalTime",
}


class SparkCounters:
    """Counts of the jobs a job group launched, read after the fact."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = self.sc.statusTracker()

    def group(self, name: str) -> dict[str, float]:
        """jobs, stages, tasks and stage I/O of job group ``name``.
        Waits for the listener bus first, so every finished stage of
        the group is in the status store."""
        self._bus.waitUntilEmpty(10_000)
        out = {"exec.jobs": 0, "exec.stages": 0, "exec.tasks": 0, **{k: 0 for k in STAGE_FIELDS}}
        stage_ids: set[int] = set()
        for jid in self._tracker.getJobIdsForGroup(name):
            info = self._tracker.getJobInfo(jid)
            out["exec.jobs"] += 1
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += st.numTasks()
            for key, getter in STAGE_FIELDS.items():
                out[key] += getattr(st, getter)()
        return out

    def last_job_end(self, name: str) -> float | None:
        """Wall-clock time (epoch seconds) the group's last job ended."""
        ends = []
        for jid in self._tracker.getJobIdsForGroup(name):
            end = self._store.job(jid).completionTime()
            if end.isDefined():
                ends.append(end.get().getTime() / 1000.0)
        return max(ends) if ends else None


def python_metrics(df) -> dict[str, float]:
    """Python-boundary SQL metrics summed over a DataFrame's executed
    plan, adaptive query stages included."""
    out = {k: 0.0 for k in PYTHON_METRICS}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        metrics = node.metrics()
        for key, name in PYTHON_METRICS.items():
            m = metrics.get(name)
            if m.isDefined():
                out[key] += m.get().value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    out["python.eval_s"] /= 1e3  # a millisecond timing metric
    return out


# ----------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    run_id: str
    op_id: str
    parent: int | None = None
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes every call a
    no-op, so the timed run and the traced run share one code path."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, op_id: str, parent: int | None = None, **counts) -> int:
        if not self.enabled:
            return -1
        self.spans.append(Span(name, start, end, self.run_id, op_id, parent, counts))
        return len(self.spans) - 1

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its children cover."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, covered)]

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for i, (s, st) in enumerate(zip(self.spans, selfs)):
                rec = {"id": i, **s.__dict__, "self_s": st}
                f.write(json.dumps(rec) + "\n")
