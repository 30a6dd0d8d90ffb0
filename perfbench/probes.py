"""Measurement helpers the workloads share: process-tree CPU time and RSS
from /proc, executor stage metrics from Spark's status store, in-memory
spans and summary statistics. Nothing here changes what the measured
program does.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU ticks: user + system, own and reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the comm field may hold spaces; count fields after it
        fields = stat.rsplit(")", 1)[1].split()
        out[int(name)] = (int(fields[1]), sum(map(int, fields[11:15])))
    return out


def _tree(stats: dict, root: int, exclude: frozenset[int]) -> list[int]:
    """``root`` and its descendants, without the subtrees at ``exclude``."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid not in exclude:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int, exclude: frozenset[int] = frozenset()) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    total = 0
    for pid in _tree(_stats(), root, exclude):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def tree_cpu_s(exclude: frozenset[int] = frozenset()) -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants: the Spark JVM and its Python workers. Time the host
    steals from the VM is not CPU time, so differences of this clock move
    far less with host load than wall time does. Children already reaped
    count through their parent."""
    stats = _stats()
    return sum(stats[p][1] for p in _tree(stats, os.getpid(), exclude)
               if p in stats) / _TICK


class RssSampler:
    """Samples this process tree's RSS on a background thread; ``peak``
    is the highest total seen. The Spark JVM and its Python workers are
    descendants of this process; pids in ``exclude`` (the event
    generator) are not counted."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        self.peak = max(self.peak,
                        tree_rss_bytes(os.getpid(), frozenset(self.exclude)))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


# --- Spark status store ----------------------------------------------------

_STAGE_FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime",
                 "numCompleteTasks", "shuffleReadBytes", "shuffleWriteBytes",
                 "memoryBytesSpilled", "diskBytesSpilled")


def stage_records(spark) -> dict[int, dict]:
    """Per-stage task metrics from Spark's status store (the store
    the UI reads; it is kept with ``spark.ui.enabled=false`` too)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    it = store.stageList(None, *defaults).iterator()
    out = {}
    while it.hasNext():
        s = it.next()
        out[s.stageId()] = {f: getattr(s, f)() for f in _STAGE_FIELDS}
    return out


def stage_delta(before: dict[int, dict], after: dict[int, dict]) -> dict:
    """Executor totals over the stages that ran between two snapshots."""
    tot = dict.fromkeys(_STAGE_FIELDS, 0)
    for sid, rec in after.items():
        if sid in before:
            continue
        for k in _STAGE_FIELDS:
            tot[k] += rec[k]
    return tot


def executor_metrics(delta: dict, wall_s: float, cores: int) -> dict[str, float]:
    return {
        "executor.cpu_s": delta["executorCpuTime"] / 1e9,
        "executor.run_s": delta["executorRunTime"] / 1e3,
        "executor.gc_s": delta["jvmGcTime"] / 1e3,
        "executor.tasks": float(delta["numCompleteTasks"]),
        "executor.busy_frac": (delta["executorRunTime"] / 1e3
                               / max(wall_s * cores, 1e-9)),
        "shuffle.read_bytes": float(delta["shuffleReadBytes"]),
        "shuffle.write_bytes": float(delta["shuffleWriteBytes"]),
        "spill.bytes": float(delta["memoryBytesSpilled"]
                             + delta["diskBytesSpilled"]),
    }


# --- spans -----------------------------------------------------------------

@dataclass
class Spans:
    """Spans kept in memory and written with the run record: each is
    [name, start, end, parent index or -1]. Timing is always taken (the
    workloads read ``seconds``); only recording depends on ``enabled``."""

    enabled: bool
    records: list = field(default_factory=list)
    _stack: list = field(default_factory=list)

    def span(self, name: str) -> "_Span":
        return _Span(self, name)


class _Span:
    def __init__(self, spans: Spans, name: str):
        self.spans, self.name = spans, name
        self.start = self.end = 0.0

    def __enter__(self) -> "_Span":
        self.start = time.perf_counter()
        s = self.spans
        if s.enabled:
            self.idx = len(s.records)
            s.records.append([self.name, self.start, None,
                              s._stack[-1] if s._stack else -1])
            s._stack.append(self.idx)
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        s = self.spans
        if s.enabled:
            s._stack.pop()
            s.records[self.idx][2] = self.end

    @property
    def seconds(self) -> float:
        return self.end - self.start


# --- statistics ------------------------------------------------------------

def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100)."""
    if not values:
        raise ValueError("no samples")
    v = sorted(values)
    return v[max(0, math.ceil(q / 100 * len(v)) - 1)]


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in values))
