"""Measurement helpers: process-tree CPU, spans, and the Spark event log.

All three read from outside the program: CPU from ``/proc``, spans from
timestamps taken around public calls, and per-job task metrics from the
uncompressed event log Spark writes.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name is in parentheses and may hold spaces
    fields = raw[raw.rindex(b")") + 2:].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return ppid, ticks / _TICK


def process_tree() -> dict[int, float]:
    """pid -> CPU seconds for this process and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by the benchmark's process tree: the
    Python process, the JVM it launched and the Python workers under the JVM.
    Children that exited are counted through their parent's cutime."""
    return sum(process_tree().values())


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""
    job_group: str = ""
    cpu_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans kept in memory; ``dump`` writes them out at the end.

    Each span sets a unique Spark job group, so the event log can
    attribute every job the span's calls start to that span."""

    run_id: str
    sc: object  # SparkContext
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].name if self._stack else None
        group = f"perfbench:{self.run_id}:{len(self.spans)}:{name}"
        sp = Span(name, 0.0, parent=parent, run_id=self.run_id, job_group=group)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(group, name)
        cpu0 = tree_cpu_s()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.cpu_s = tree_cpu_s() - cpu0
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].job_group, self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def children(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == name]

    def coverage(self, name: str) -> float:
        """Share of a span's wall time its direct children account for."""
        root = self.get(name)
        return sum(c.duration for c in self.children(name)) / root.duration

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=1)


@dataclass
class GroupStats:
    """Task metrics summed over the jobs of one job group."""

    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Attribute jobs, and the tasks of their stages, to job groups.

    ``lines`` are the JSON lines of an uncompressed Spark event log. A
    stage belongs to the group of the job that submitted it first; a
    stage a later job reuses (skipped) runs no tasks again."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out.setdefault(group, GroupStats()).jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            st = out.setdefault(group, GroupStats())
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    return out


def read_event_logs(log_dir: str) -> dict[str, GroupStats]:
    """Parse every event log file under ``log_dir`` (one per session)."""
    merged: dict[str, GroupStats] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for group, st in parse_event_log(fh).items():
                acc = merged.setdefault(group, GroupStats())
                for k, v in asdict(st).items():
                    setattr(acc, k, getattr(acc, k) + v)
    return merged
