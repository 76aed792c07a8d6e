"""Measurement pieces shared by the workloads: sample statistics, the
span tracer with its Spark job/stage/task counter, the contention scan and
the peak-memory probe."""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

METRIC_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
TAIL_BEYOND = 10


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile that still has at least ``TAIL_BEYOND``
    samples beyond it: ``(value, percentile, n)``, or None when there are
    too few samples for such a percentile at or above the median."""
    n = len(samples)
    if n < 2 * TAIL_BEYOND:
        return None
    ordered = sorted(samples)
    pct = 100.0 * (n - TAIL_BEYOND) / n
    return ordered[n - TAIL_BEYOND - 1], pct, n


@dataclass
class Counts:
    """Spark work of one traced call.  ``stages_unknown`` counts stages
    whose StageInfo was already evicted from the status store: their
    tasks are unknown, not zero."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    stages_unknown: int = 0

    def add(self, other: Counts) -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.stages_unknown += other.stages_unknown


def count_groups(sc, groups: list[str]) -> Counts:
    """Jobs, executed stages and completed tasks of every job in the given
    job groups, read from ``statusTracker()``.  Stages a job skipped
    (shuffle output reused) ran no tasks and are not counted.

    The status store behind ``statusTracker()`` is fed asynchronously by
    the listener bus, so the bus is drained first: a stage read before its
    completion event was processed would show too few tasks."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    out = Counts()
    for group in groups:
        for job in tracker.getJobIdsForGroup(group):
            out.jobs += 1
            info = tracker.getJobInfo(job)
            if info is None:
                out.stages_unknown += 1
                continue
            for sid in info.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is None:
                    out.stages_unknown += 1
                elif stage.numCompletedTasks > 0:
                    out.stages += 1
                    out.tasks += stage.numCompletedTasks
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    group: str
    counts: Counts | None = None


@dataclass
class Tracer:
    """In-memory spans around calls into the program's layers.

    When ``enabled`` is false every ``span`` is a no-op, so untraced runs
    pay nothing.  When it is true each span runs its body in a fresh Spark
    job group and records the Spark work the body submitted outside any
    inner span (self counts); its parent is the span it runs inside.  Work
    the benchmark adds for its own measurements goes in an inner span of
    its own, so the counts of the layer call stay those of the program."""

    enabled: bool
    run_id: str
    sc: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _seq: int = 0

    @contextmanager
    def span(self, name: str) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        self._seq += 1
        group = f"perfbench-{self._seq}"
        parent = self._stack[-1] if self._stack else None
        rec = Span(name, time.perf_counter(), 0.0, parent, self.run_id, group)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if self._stack:  # jobs after the inner span belong to the outer one
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer.group, outer.name)
            else:
                self.sc.setJobGroup("", "")
            rec.counts = count_groups(self.sc, [group])

    def totals(self, name: str) -> tuple[list[float], Counts]:
        """Durations of the spans called ``name`` and their summed counts."""
        durs, counts = [], Counts()
        for s in self.spans:
            if s.name == name:
                durs.append(s.end - s.start)
                if s.counts is not None:
                    counts.add(s.counts)
        return durs, counts

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w", encoding="utf-8") as fh:
            for i, s in enumerate(self.spans):
                rec = {
                    "id": i,
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "parent": s.parent,
                    "run_id": s.run_id,
                }
                if s.counts is not None:
                    rec.update(vars(s.counts))
                fh.write(json.dumps(rec) + "\n")


def proc_tree() -> dict[int, int]:
    ppid: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                # comm (field 2) is parenthesized and may hold spaces
                ppid[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return ppid


def _cpu_busy_share(window_s: float) -> float:
    """Share of all CPU time spent busy over ``window_s`` (from /proc/stat)."""

    def sample() -> tuple[int, int]:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        idle = vals[3] + vals[4]  # idle + iowait
        return sum(vals) - idle, sum(vals)

    b0, t0 = sample()
    time.sleep(window_s)
    b1, t1 = sample()
    return (b1 - b0) / max(1, t1 - t0)


def descendants(root: int) -> set[int]:
    """Every live process below ``root`` in the process tree."""
    ppid = proc_tree()
    found = {root}
    grew = True
    while grew:
        grew = False
        for pid, parent in ppid.items():
            if parent in found and pid not in found:
                found.add(pid)
                grew = True
    return found - {root}


def contention(measure_cpu: bool = True) -> dict[str, object] | None:
    """Evidence that something else competes for the machine: a JVM or a
    Spark/pytest Python process outside this process's own ancestry and
    subtree, or (``measure_cpu``, before this run starts any work) more
    than half of the CPU time busy over a short window.  The 1-minute load
    average is no such signal: it still carries the previous run's load
    when runs are back to back.  Returns None when the machine looks
    quiet."""
    ppid = proc_tree()
    me = os.getpid()
    excluded = {me} | descendants(me)
    cursor = me
    while ppid.get(cursor, 0) > 0 and ppid[cursor] not in excluded:
        cursor = ppid[cursor]
        excluded.add(cursor)
    foreign: list[str] = []
    for pid in ppid:
        if pid in excluded:
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                state = fh.read().rsplit(")", 1)[1].split()[0]
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\x00", b" ").decode("utf-8", "replace")
        except (OSError, IndexError):
            continue
        if state == "Z":  # exited, unreaped: holds no CPU
            continue
        if comm == "java" or (
            comm.startswith("python") and any(k in cmd for k in ("spark", "pytest"))
        ):
            foreign.append(f"pid {pid}: {cmd[:120]}")
    busy = _cpu_busy_share(0.25) if measure_cpu else 0.0
    if not foreign and busy <= 0.5:
        return None
    return {"cpu_busy_share": round(busy, 3), "foreign": foreign[:8]}


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
