"""Tracing for the benchmark's traced run, plus the order statistics
both runs report.

* ``Tracer`` keeps spans in memory (name, start, end, parent) and writes
  them out once, when the run ends. A layer's self time is its spans'
  duration minus the part covered by their child spans.
* ``parse_event_log`` reads a Spark event log (JSON lines, written when
  ``spark.eventLog.enabled`` is set) and sums task, shuffle, spill, GC,
  input and Python-boundary metrics over the jobs a predicate selects:
  jobs are matched to queries through their job group and to stream
  batches through the ``streaming.sql.batchId`` local property.
"""

from __future__ import annotations

import functools
import glob
import json
import math
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue  # the process ended while we listed it
        children.setdefault(ppid, []).append(int(stat.split("/")[2]))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds used so far by this process and every process below
    it (the JVM and its Python workers), with the children each has
    reaped. Unlike wall time, this leaves out the time the machine
    gave to other tenants."""
    t = os.times()
    total = t.user + t.system
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / _TICK  # utime..cstime
    return total


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``; below twenty samples that is the median."""
    n = len(xs)
    if n < 20:
        return median(xs), 50.0
    q = (n - 10) / n
    return sorted(xs)[math.ceil(q * n) - 1], 100.0 * q


# -- spans --------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every call a
    no-op, so the untraced run shares the code path."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr``."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, traced)

    def reset(self) -> None:
        """Drop the spans recorded so far (the set-up's), keeping those
        of the measured window only."""
        self.spans.clear()
        self._stack.clear()

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """Per layer (span name up to the first dot): summed span time
        minus the time covered by direct child spans."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name.split(".")[0]] += (s.end - s.start) - child_time[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.idx = tracer, name, None

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            t.spans.append(Span(self.name, time.perf_counter(), parent=parent))
            self.idx = len(t.spans) - 1
            t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            self.tracer.spans[self.idx].end = time.perf_counter()
            self.tracer._stack.pop()
        return False


# -- Spark event log ----------------------------------------------------------

# physical operators that run Python code in worker processes
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "AggregateInPandas",
    "ArrowAggregatePython",
    "WindowInPandas",
    "ArrowWindowPython",
    "FlatMapGroupsInPandasWithState",
    "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF",
    "PythonDataSourceScan",
)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
ROWS = "number of output rows"


@dataclass
class EventLogSummary:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    task_overhead_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    input_bytes: int = 0
    exchanges: int = 0
    busy_s: float = 0.0
    python_rows_sent: int = 0
    python_bytes_sent: int = 0
    python_bytes_received: int = 0
    python_udf_nodes: int = 0
    jobs_by_group: dict = field(default_factory=lambda: defaultdict(int))
    jobs_by_batch: dict = field(default_factory=lambda: defaultdict(int))


def _walk(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def _rows_metric(node: dict) -> int | None:
    for m in node.get("metrics", []):
        if m.get("name") == ROWS:
            return m["accumulatorId"]
    return None


def _python_row_accs(plan: dict) -> tuple[int, set[int]]:
    """(number of Python nodes, accumulator ids counting the rows fed
    into them). A Python node's input rows are read from the nearest
    row-count metric on its first-child chain: projections between it
    and that node keep the row count."""
    n, accs = 0, set()
    for node in _walk(plan):
        if not node.get("nodeName", "").startswith(PYTHON_NODES):
            continue
        n += 1
        cur = node
        while cur.get("children"):
            cur = cur["children"][0]
            acc = _rows_metric(cur)
            if acc is not None:
                accs.add(acc)
                break
    return n, accs


def _exchanges(plan: dict) -> int:
    return sum(
        1
        for node in _walk(plan)
        if node.get("nodeName") in ("Exchange", "BroadcastExchange")
    )


def parse_event_log(lines, select) -> EventLogSummary:
    """Sum the metrics of every job for which ``select(props)`` is true,
    where ``props`` are the job's local properties (job group, SQL
    execution id, stream batch id, ...). Plan shape metrics (exchanges,
    Python nodes) come from each selected SQL execution's final,
    post-AQE plan."""
    out = EventLogSummary()
    stage_job: dict[int, bool] = {}
    exec_plan: dict[int, dict] = {}
    selected_execs: set[int] = set()
    task_accs: dict[int, int] = defaultdict(int)
    job_start: dict[int, float] = {}
    intervals: list[tuple[float, float]] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            hit = bool(select(props))
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = stage_job.get(sid, False) or hit
            if hit:
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                out.jobs += 1
                out.jobs_by_group[props.get("spark.jobGroup.id", "")] += 1
                if "streaming.sql.batchId" in props:
                    out.jobs_by_batch[props["streaming.sql.batchId"]] += 1
                if props.get("spark.sql.execution.id") is not None:
                    selected_execs.add(int(props["spark.sql.execution.id"]))
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_start:
                intervals.append((job_start[ev["Job ID"]], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            if stage_job.get(ev["Stage Info"]["Stage ID"]):
                out.stages += 1
        elif kind == "SparkListenerTaskEnd":
            if not stage_job.get(ev["Stage ID"]):
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
            out.tasks += 1
            out.task_s += dur
            out.task_overhead_s += dur - m.get("Executor Run Time", 0) / 1000.0
            out.gc_s += m.get("JVM GC Time", 0) / 1000.0
            out.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            sr = m.get("Shuffle Read Metrics") or {}
            out.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            out.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            out.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in info.get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name == PY_SENT:
                    out.python_bytes_sent += int(upd)
                elif name == PY_RECEIVED:
                    out.python_bytes_received += int(upd)
                elif name == ROWS:
                    task_accs[acc["ID"]] += int(upd)
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            exec_plan[int(ev["executionId"])] = ev["sparkPlanInfo"]
    end = float("-inf")
    for a, b in sorted(intervals):  # wall time with a selected job running
        out.busy_s += max(0.0, b - max(a, end))
        end = max(end, b)
    row_accs: set[int] = set()
    for eid in selected_execs:
        plan = exec_plan.get(eid)
        if plan is None:
            continue
        out.exchanges += _exchanges(plan)
        n, accs = _python_row_accs(plan)
        out.python_udf_nodes += n
        row_accs |= accs
    out.python_rows_sent = sum(task_accs[a] for a in row_accs)
    return out
