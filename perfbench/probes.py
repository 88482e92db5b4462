"""Measurement probes: process-tree CPU and memory from ``/proc``, Spark's
per-stage counters, SQL-plan Python-boundary rows, output files, and an
in-memory span tracer.

Every probe is read outside the timed regions. The Spark readers go
through the JVM status stores the engine already keeps (they work with the
UI disabled) and attribute work to an operation by the job, stage and SQL
execution ids it allocated, so jobs that a builder launches from its own
threads or a streaming query's micro-batches are counted too.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")

# Physical-plan nodes that evaluate rows in Python workers.
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "MapInPandas",
    "MapInArrow",
    "AggregateInPandas",
    "ArrowAggregatePython",
    "WindowInPandas",
    "ArrowWindowPython",
    "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF",
)

SMALL_FILE_BYTES = 64 * 1024


# --------------------------------------------------------------------------
# /proc: the process tree rooted at this interpreter
# --------------------------------------------------------------------------


def _stat(pid: str) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime in ticks) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def process_tree(root: int | None = None) -> dict[int, int]:
    """Map pid -> cumulative CPU ticks for ``root`` and all descendants.

    A descendant that has exited and been reaped is still counted, in its
    parent's ``cutime``/``cstime``."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid][1]
            todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the whole process tree: driver Python,
    the JVM and the Python workers."""
    return sum(process_tree(root).values()) / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has given other guests while this
    machine's CPUs wanted to run (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def _vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def children_peak_rss_mib(root: int | None = None) -> float:
    """Sum of peak resident memory (``VmHWM``) over the JVM and the Python
    workers, i.e. every live descendant of this interpreter."""
    root = os.getpid() if root is None else root
    return sum(_vm_hwm_kib(p) for p in process_tree(root) if p != root) / 1024.0


# --------------------------------------------------------------------------
# Spark counters
# --------------------------------------------------------------------------


@dataclass
class SparkCounters:
    """Counters of the jobs, stages and SQL executions of one operation."""

    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    input_rows: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_bytes: int = 0
    python_rows: int = 0

    def add(self, other: SparkCounters) -> None:
        for name in self.__dataclass_fields__:
            if name == "peak_exec_bytes":
                self.peak_exec_bytes = max(self.peak_exec_bytes, other.peak_exec_bytes)
            else:
                setattr(self, name, getattr(self, name) + getattr(other, name))


def _metric_number(text: str | None) -> int:
    """Value of a SQL sum metric as the status store formats it ("12,345")."""
    if not text:
        return 0
    head = text.strip().split("\n")[-1].split(" ")[0].replace(",", "")
    try:
        return int(float(head))
    except ValueError:
        return 0


class SparkProbe:
    """Reads Spark's status stores for the work between two marks."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int, int]:
        """Next job and stage ids and the last SQL execution id; pass to
        :meth:`since` after the operation."""
        self._sc.listenerBus().waitUntilEmpty()
        return int(self._dag.nextJobId()), int(self._dag.nextStageId()), self._max_execution_id()

    def _max_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return int(self._sql.executionsList(n - 1, 1).apply(0).executionId())

    def since(self, mark: tuple[int, int, int]) -> SparkCounters:
        """Counters of every job, stage and SQL execution after ``mark``."""
        job0, stage0, exec0 = mark
        job1, stage1, _ = self.mark()
        c = SparkCounters(jobs=job1 - job0)
        for sid in range(stage0, stage1):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            c.tasks += st.numTasks()
            c.tasks_failed += st.numFailedTasks()
            c.cpu_s += (st.executorCpuTime() + st.executorDeserializeCpuTime()) / 1e9
            c.run_s += (st.executorRunTime() + st.executorDeserializeTime()) / 1e3
            c.gc_s += st.jvmGcTime() / 1e3
            c.input_rows += st.inputRecords()
            c.input_bytes += st.inputBytes()
            c.shuffle_read_bytes += st.shuffleReadBytes()
            c.shuffle_write_bytes += st.shuffleWriteBytes()
            c.spill_bytes += st.diskBytesSpilled()
            c.peak_exec_bytes = max(c.peak_exec_bytes, st.peakExecutionMemory())
        c.python_rows = self._python_rows_after(exec0)
        return c

    def _python_rows_after(self, exec0: int) -> int:
        """Rows returned by Python-evaluating plan nodes in the SQL
        executions after id ``exec0``."""
        rows = 0
        i = self._sql.executionsCount() - 1
        while i >= 0:
            eid = int(self._sql.executionsList(i, 1).apply(0).executionId())
            if eid <= exec0:
                break
            i -= 1
            nodes = self._sql.planGraph(eid).allNodes()
            values = None
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not node.name().startswith(PYTHON_NODES):
                    continue
                if values is None:
                    values = self._sql.executionMetrics(eid)
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    if metric.name() == "number of output rows":
                        got = values.get(metric.accumulatorId())
                        rows += _metric_number(got.get() if got.isDefined() else None)
        return rows


# --------------------------------------------------------------------------
# Output files
# --------------------------------------------------------------------------


def snapshot_files(roots: list[str]) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every data file under ``roots``
    (hidden and Spark bookkeeping files excluded)."""
    out = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                if name.startswith((".", "_")):
                    continue
                path = os.path.join(dirpath, name)
                try:
                    st = os.stat(path)
                except OSError:
                    continue
                out[path] = (st.st_size, st.st_mtime_ns)
    return out


@dataclass
class Writes:
    files: int = 0
    bytes: int = 0
    small_files: int = 0


def written_between(before: dict, after: dict) -> Writes:
    """Files that are new or rewritten in ``after``."""
    w = Writes()
    for path, meta in after.items():
        if before.get(path) != meta:
            w.files += 1
            w.bytes += meta[0]
            w.small_files += meta[0] < SMALL_FILE_BYTES
    return w


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""


@dataclass
class Tracer:
    """Spans kept in memory; :meth:`dump` writes them when the run ends.
    A disabled tracer records nothing."""

    run_id: str
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def open(self, name: str) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, run_id=self.run_id))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    @contextmanager
    def span(self, name: str, on: bool = True):
        idx = self.open(name) if on else None
        try:
            yield
        finally:
            self.close(idx)

    def close(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        self._stack.remove(idx)

    def self_times(self) -> dict[str, float]:
        """Per layer (the span name up to its first ':'), the time its spans
        were open minus the time their child spans cover."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            layer = s.name.split(":", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - child_time[i]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                [
                    {"id": i, "name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "run_id": s.run_id}
                    for i, s in enumerate(self.spans)
                ],
                fh,
            )
