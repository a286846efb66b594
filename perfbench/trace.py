"""Measurement tools: process-tree CPU and RSS from /proc, in-memory
spans with a Spark job group per span, a parser for Spark's plain-JSON
event log, and single-process floors for decode and the kernel."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid → (ppid, cpu seconds incl. reaped children, rss bytes)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        rest = stat[stat.rindex(")") + 2:].split()
        cpu = sum(int(v) for v in rest[11:15]) / _TICK  # utime stime cutime cstime
        table[int(d)] = (int(rest[1]), cpu, int(rest[21]) * _PAGE)
    return table


class ProcTree:
    """The JVM and every process below it (the Python daemon and workers)."""

    def __init__(self, root: int):
        self.root = root

    def _walk(self) -> dict[int, tuple[int, float, int]]:
        table = _proc_table()
        kids = defaultdict(list)
        for pid, (ppid, _cpu, _rss) in table.items():
            kids[ppid].append(pid)
        found, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in table:
                found[pid] = table[pid]
                todo.extend(kids[pid])
        return found

    def pids(self) -> set[int]:
        return set(self._walk())

    def sample(self) -> tuple[float, int]:
        """(cpu seconds, rss bytes) summed over the tree."""
        procs = self._walk().values()
        return sum(cpu for _p, cpu, _r in procs), sum(rss for _p, _c, rss in procs)


class PeakRss(threading.Thread):
    """Samples the tree's RSS every ``period`` seconds until ``stop``;
    ``take`` returns the peak since the previous ``take``."""

    def __init__(self, tree: ProcTree, period: float = 0.1):
        super().__init__(daemon=True)
        self.tree, self.period = tree, period
        self._peak = 0
        self._lock = threading.Lock()
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            rss = self.tree.sample()[1]
            with self._lock:
                self._peak = max(self._peak, rss)
            self._done.wait(self.period)

    def take(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def stop(self) -> None:
        self._done.set()
        self.join(timeout=10)


def set_job_group(sc, group: str | None) -> None:
    """Run the thread's next Spark jobs under ``group``; None clears it."""
    if group:
        sc.setJobGroup(group, group)
    else:
        sc.setLocalProperty("spark.jobGroup.id", None)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    group: str | None


class Tracer:
    """Spans kept in memory; each span with a ``group`` runs its Spark jobs
    under that job group, so the event log can be cut by span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, group)
        self.spans.append(s)
        self._stack.append(sid)
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        if group:
            set_job_group(self.sc, group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if group:
                set_job_group(self.sc, outer)

    def seconds(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]


# ------------------------------------------------------------------- event log

@dataclass
class GroupStats:
    """What one job group cost, from the event log."""

    jobs: int = 0
    stage_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    python_s: float = 0.0
    to_python_mb: float = 0.0
    from_python_mb: float = 0.0
    task_skew: float = 0.0


_ACC = {
    "time to run Python workers": ("python_s", 1e-3),
    "data sent to Python workers": ("to_python_mb", 1e-6),
    "data returned from Python workers": ("from_python_mb", 1e-6),
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
}


def find_event_log(directory: str, app_id: str) -> str:
    path = os.path.join(directory, app_id)
    if not os.path.exists(path):
        path += ".inprogress"
    if not os.path.exists(path):
        raise FileNotFoundError(f"no event log for {app_id} in {directory}")
    return path


def read_event_log(path: str) -> dict[str, GroupStats]:
    """Per job group: jobs, stage wall, executor and Python time, Arrow
    bytes each way, shuffle, spill and task skew. ``task_skew`` is max over
    median task time in the group's stage that read the most shuffle bytes
    (the stage after its exchange)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    tasks: dict[int, list[float]] = defaultdict(list)
    stage_read: dict[int, float] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                groups[group].jobs += 1
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                tasks[e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                g = groups[stage_group.get(info["Stage ID"], "-")]
                if "Completion Time" in info and "Submission Time" in info:
                    g.stage_s += (info["Completion Time"] - info["Submission Time"]) / 1e3
                read = 0.0
                for acc in info.get("Accumulables", []):
                    field = _ACC.get(acc["Name"])
                    if field:
                        value = float(acc["Value"]) * field[1]
                        setattr(g, field[0], getattr(g, field[0]) + value)
                        if field[0] == "shuffle_read_mb":
                            read += value
                stage_read[info["Stage ID"]] = read
    for group in list(groups):
        mine = [s for s, g in stage_group.items() if g == group and stage_read.get(s, 0) > 0]
        if mine:
            durs = tasks[max(mine, key=lambda s: stage_read[s])]
            med = statistics.median(durs) if durs else 0
            groups[group].task_skew = max(durs) / med if med > 0 else 1.0
    return dict(groups)


def merge(stats: list[GroupStats]) -> GroupStats:
    """Median of each field over the traced iterations."""
    if not stats:
        return GroupStats()
    return GroupStats(**{
        k: statistics.median(getattr(s, k) for s in stats) for k in asdict(stats[0])
    })


# ---------------------------------------------------------------------- floors

FLOOR_BATCH = 512  # images per kernel call; extract calls it once per Arrow batch


def codec_kernel_floor(rows: list[tuple[bytes, str]]) -> tuple[float, float]:
    """Single-process decode and kernel cost (ms per image) on ``rows``,
    no Spark: the floor the extract stage pays per image. The kernel runs
    batched, as extract runs it."""
    from rp_extract_spark.codecs import decode_image
    from rp_extract_spark.functions.kernel import extract_segment_features_batch

    decode_s = kernel_s = 0.0
    for k in range(0, len(rows), FLOOR_BATCH):
        t0 = time.perf_counter()
        pixels = [decode_image(b, fmt) for b, fmt in rows[k:k + FLOOR_BATCH]]
        t1 = time.perf_counter()
        extract_segment_features_batch(pixels)
        decode_s += t1 - t0
        kernel_s += time.perf_counter() - t1
    n = max(len(rows), 1)
    return decode_s * 1e3 / n, kernel_s * 1e3 / n
