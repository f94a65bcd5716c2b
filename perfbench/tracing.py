"""In-memory spans, self-time arithmetic, Spark job counts and process
CPU/memory sampling, all taken from outside the program.

Spans are recorded by the benchmark around its calls into the package's
public functions; nothing inside the package is edited.  Spark counts come
from the public ``StatusTracker`` per job group; process figures come from
``/proc``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    ids: dict = field(default_factory=dict)


class Tracer:
    """Records nested spans of one thread; a disabled tracer records
    nothing and costs one attribute test per span."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **ids):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, time.perf_counter(), 0.0, parent,
                               {"run": self.run_id, **ids}))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span id: its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Self time summed per span name."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.id]
    return out


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks run) of one Spark job group, from the public
    StatusTracker.  Stages skipped because their shuffle output was reused
    have no stage info and are not counted."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            sinfo = st.getStageInfo(sid)
            if sinfo is not None and sinfo.numTasks > 0 and sinfo.numCompletedTasks > 0:
                stages += 1
                tasks += sinfo.numCompletedTasks
    return len(jobs), stages, tasks


_PLAN_NODE = re.compile(r"^\(\d+\) (.+?)(?: \[codegen id : \d+\])?$", re.MULTILINE)
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "FlatMapGroupsInPandas", "MapInArrow", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas")


def plan_counts(plan_text: str) -> dict[str, int]:
    """Node counts of a ``plans.physical_plan`` (formatted) string."""
    nodes = [m.group(1).strip() for m in _PLAN_NODE.finditer(plan_text)]
    kinds = [n.split(" ")[0] for n in nodes]
    return {
        "exchanges": sum(k == "Exchange" for k in kinds),
        "broadcasts": sum(k == "BroadcastExchange" for k in kinds),
        "scans": sum(n.startswith(("Scan ", "BatchScan", "InMemoryTableScan")) for n in nodes),
        "python_nodes": sum(k in PYTHON_NODES for k in kinds),
    }


class ProcMonitor:
    """Samples this process and its descendants (the driver JVM and the
    Python workers it forks) from ``/proc``: peak resident memory (sum of
    VmHWM of the processes alive at a sample, maximised over samples) and
    CPU seconds per kind (``driver``, ``jvm``, ``pyworker``).  A process
    that exits keeps the CPU it had at its last sample."""

    def __init__(self, interval: float = 0.5):
        self.root = os.getpid()
        self.interval = interval
        self.peak_kb = 0
        self._cpu: dict[int, tuple[str, float]] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._tick = os.sysconf("SC_CLK_TCK")

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return False

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        procs = proc_table()
        hwm = 0
        with self._lock:
            for pid in [self.root] + descendants(procs, self.root):
                _, comm, ticks = procs[pid]
                kind = "driver" if pid == self.root else (
                    "jvm" if comm == "java" else "pyworker")
                self._cpu[pid] = (kind, ticks / self._tick)
                hwm += _vm_hwm_kb(pid)
            self.peak_kb = max(self.peak_kb, hwm)

    def cpu_by_kind(self) -> dict[str, float]:
        self.sample()
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        with self._lock:
            for kind, cpu in self._cpu.values():
                out[kind] += cpu
        return out


def proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, command name, utime + stime in clock ticks)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        # fields after the parenthesised name: state ppid ... utime(11) stime(12)
        rest = raw[raw.rindex(")") + 2:].split()
        out[int(d)] = (int(rest[1]), raw[raw.index("(") + 1: raw.rindex(")")],
                       int(rest[11]) + int(rest[12]))
    return out


def descendants(procs: dict[int, tuple[int, str, int]], root: int) -> list[int]:
    """Every process below ``root`` in ``procs``."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
