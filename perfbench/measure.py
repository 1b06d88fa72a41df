"""Measurement primitives: the tail-percentile rule, span tracing with
self-time arithmetic, the tracing-overhead ratio, a process-tree RSS
sampler and the Spark engine counters read per job group.

Everything except :class:`RssSampler` and :func:`engine_counters` is
pure Python, so the self-tests exercise it without a Spark session.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
TAIL_BEYOND = 10


# -- percentiles ---------------------------------------------------------


def tail_rank(n: int) -> int:
    """0-based rank, in ascending order, of the highest order statistic
    that has at least ``TAIL_BEYOND`` samples beyond it.  With fewer
    than ``TAIL_BEYOND + 1`` samples no rank qualifies and the maximum
    (rank ``n - 1``) stands in."""
    if n < 1:
        raise ValueError("no samples")
    return n - 1 - TAIL_BEYOND if n > TAIL_BEYOND else n - 1


def tail_percentile(n: int) -> float:
    """The percentile :func:`tail_rank` picks at ``n`` samples (nearest
    rank: rank r is the ``100 * (r + 1) / n`` percentile)."""
    return 100.0 * (tail_rank(n) + 1) / n


def tail_value(samples: list[float]) -> float:
    return sorted(samples)[tail_rank(len(samples))]


def overhead_frac(untraced_ops_s: float, traced_ops_s: float) -> float:
    """Tracing overhead as a share of traced time per operation: how
    much longer an operation takes with tracing on.  0.05 means the
    traced run needs 5% more time per operation."""
    if untraced_ops_s <= 0 or traced_ops_s <= 0:
        raise ValueError("throughputs must be positive")
    return untraced_ops_s / traced_ops_s - 1.0


# -- spans ---------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans; None for an operation root
    op: int


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``, so
    overlapping children are counted once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered(kids.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


@dataclass
class Tracer:
    """In-memory span recorder for one client thread.  ``span`` nests:
    the innermost open span is the parent of the next one.  An
    operation's root span is opened with ``op_span``."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    counters: list[dict[str, float]] = field(default_factory=list)  # per op
    _stack: list[int] = field(default_factory=list)
    _op: int = -1

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._op))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self._stack.pop()
        self.spans[idx].end = time.perf_counter()

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def op_span(self, kind: str) -> "_SpanCtx":
        self._op += 1
        self.counters.append({})
        return _SpanCtx(self, f"op.{kind}")

    def count(self, name: str, value: float) -> None:
        """Add ``value`` to a counter of the current operation."""
        if self.enabled and self.counters:
            c = self.counters[-1]
            c[name] = c.get(name, 0.0) + value

    def layer_self_ms(self) -> tuple[dict[str, float], float]:
        """Self time per layer (first component of the span name),
        summed over all operations, in ms, plus the summed root
        durations in ms."""
        per: dict[str, float] = {}
        for s, t in zip(self.spans, self_times(self.spans)):
            layer = s.name.split(".", 1)[0]
            per[layer] = per.get(layer, 0.0) + t * 1000.0
        roots = sum((s.end - s.start) * 1000.0 for s in self.spans if s.parent is None)
        return per, roots

    def durations_ms(self, name: str) -> list[float]:
        return [
            (s.end - s.start) * 1000.0 for s in self.spans if s.name == name
        ]

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}
            for s in self.spans
        ]


class _SpanCtx:
    __slots__ = ("t", "name", "idx")

    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name, self.idx = tracer, name, -1

    def __enter__(self):
        if self.t.enabled:
            self.idx = self.t._open(self.name)
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            self.t._close(self.idx)
        return False


def attribution(per_layer_ms: dict[str, float], roots_ms: float, wall_ms: float) -> tuple[float, float]:
    """How much of the operations' externally timed wall time the trace
    explains: the summed root spans as a share of it, and the self time
    of named layers (every layer but ``op``, the benchmark's own glue)
    as a share of it.  Both fall below 1 when spans miss time."""
    if wall_ms <= 0:
        raise ValueError("wall time must be positive")
    named = sum(v for k, v in per_layer_ms.items() if k != "op")
    return roots_ms / wall_ms, named / wall_ms


def mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


# -- memory --------------------------------------------------------------


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, from ``/proc``."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants: the Python
    process, the JVM it launched and the JVM's Python workers."""
    return sum(_rss_bytes(p) for p in [root, *descendants(root)])


class RssSampler:
    """Samples the process tree's RSS on a daemon thread between
    ``start`` and ``stop``; ``peak`` is the highest sum seen."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak


# -- Spark engine counters -----------------------------------------------

_STAGE_FIELDS = (
    ("engine.tasks", "numTasks", 1.0),
    ("engine.failed_tasks", "numFailedTasks", 1.0),
    ("engine.executor_run_ms", "executorRunTime", 1.0),
    ("engine.executor_cpu_ms", "executorCpuTime", 1e-6),
    ("io.input_bytes", "inputBytes", 1.0),
    ("engine.shuffle_read_bytes", "shuffleReadBytes", 1.0),
    ("engine.shuffle_write_bytes", "shuffleWriteBytes", 1.0),
    ("engine.spill_bytes", "memoryBytesSpilled", 1.0),
    ("engine.spill_bytes", "diskBytesSpilled", 1.0),
)


def engine_counters(spark, group: str) -> dict[str, float]:
    """Jobs, executed stages and stage task metrics of every job run
    under job group ``group``, from the status tracker and the
    application status store.  Waits for the listener bus first so the
    store holds the finished jobs."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    out = {"engine.jobs": 0.0, "engine.stages": 0.0}
    for name, _, _ in _STAGE_FIELDS:
        out[name] = 0.0
    seen: set[int] = set()
    for job in tracker.getJobIdsForGroup(group):
        out["engine.jobs"] += 1
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info is not None else ():
            if sid in seen:
                continue
            seen.add(sid)
            data = store.lastStageAttempt(sid)
            if data.status().toString() == "SKIPPED":
                continue
            out["engine.stages"] += 1
            for name, getter, scale in _STAGE_FIELDS:
                out[name] += getattr(data, getter)() * scale
    return out


def storage_mb(spark) -> float:
    """Memory plus disk held by cached RDD blocks, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6
