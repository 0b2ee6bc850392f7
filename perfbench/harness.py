"""Measurement plumbing shared by every workload: percentiles, spans,
process-tree sampling and Spark status-tracker counts.

Nothing here imports the engine, so the unit tests in ``tests/`` run
without a Spark session.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# A percentile is reported only when at least this many samples lie
# beyond it; below that the highest supported percentile is named instead.
MIN_TAIL_SAMPLES = 10


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` percent of the samples at or below it (``q`` in 0..100)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``q`` percentile's position."""
    return n - max(1, math.ceil(q / 100.0 * n))


def highest_supported_percentile(n: int, min_tail: int = MIN_TAIL_SAMPLES) -> float | None:
    """The highest whole percentile that still has ``min_tail`` samples
    beyond it, or None when ``n`` is too small for even the median."""
    for q in range(99, 49, -1):
        if samples_beyond(n, q) >= min_tail:
            return float(q)
    return None


def median(values) -> float:
    ordered = sorted(values)
    if not ordered:
        raise ValueError("median of no samples")
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2.0


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    op_id: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans nest by call structure: a span
    opened while another is open on the same thread becomes its child."""

    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, op_id: int | None = None, **attrs):
        span_id = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span_id)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(name, start, end, span_id, parent, op_id, attrs))

    def self_times(self) -> dict[int, float]:
        """span_id -> self time in seconds (see ``self_time``)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        return {s.span_id: self_time(s, children.get(s.span_id, [])) for s in self.spans}

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        """Write every span as one JSON object per line, with its self time."""
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                rec = {
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "id": s.span_id,
                    "parent": s.parent,
                    "op": s.op_id,
                    "self_s": selfs[s.span_id],
                }
                rec.update({k: v for k, v in s.attrs.items() if isinstance(v, (int, float, str))})
                f.write(json.dumps(rec) + "\n")


class NullTracer:
    """Same interface as ``Tracer`` but records nothing (untraced runs)."""

    enabled = False

    @contextmanager
    def span(self, name: str, op_id: int | None = None, **attrs):
        yield attrs


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of its interval covered by its
    children (overlapping children are counted once)."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_end is None or lo > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = lo, hi
        else:
            cur_end = max(cur_end, hi)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


# ---------------------------------------------------------------------------
# Process tree: RSS and I/O counters from /proc (no psutil here)
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name sits in parentheses and may contain spaces
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        out.setdefault(ppid, []).append(int(entry))
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def io_counters(pids) -> tuple[int, int]:
    """Summed (rchar, wchar) over ``pids`` that are still alive."""
    r = w = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/io") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        r += int(fields["rchar"])
        w += int(fields["wchar"])
    return r, w


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot, from the
    first line of /proc/stat. On a virtual machine, steal is time the
    host ran something else while this guest's CPUs had work."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # guest and guest_nice (fields 9-10) are already counted in user/nice
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


class RssSampler:
    """Background thread tracking the peak summed RSS of this process and
    its descendants (the Spark JVM and its Python workers)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._lock = threading.Lock()  # the sampler thread and callers both update peak_mb
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> float:
        total = sum(rss_mb(p) for p in process_tree())
        with self._lock:
            self.peak_mb = max(self.peak_mb, total)
        return total

    def _run(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


# ---------------------------------------------------------------------------
# Spark job/task counts for one op's job group
# ---------------------------------------------------------------------------


def job_group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
                failed += st.numFailedTasks
    return jobs, tasks, failed


# ---------------------------------------------------------------------------
# Result line
# ---------------------------------------------------------------------------


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    if attempted < 1:
        raise ValueError("a run must attempt at least one op")
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": metrics}
