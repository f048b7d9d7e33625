"""Spans around the benchmark's calls into each layer, Spark job/task
counts per span, and process-tree CPU / RSS from ``/proc``.

With tracing off a span only times its body (one ``perf_counter`` pair)
so the end-to-end figures carry no tracing cost. With tracing on every
span also gets its own Spark job group; job and task counts per group
are read from the public ``statusTracker`` once the run is over, when
the listener bus has caught up, so they repeat exactly.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_start_epoch() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22: starttime, clock ticks
    with open("/proc/stat", encoding="ascii") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + start_ticks / _CLK_TCK


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        cpu = sum(int(x) for x in fields[11:15]) / _CLK_TCK
        out[int(name)] = (int(fields[1]), cpu, int(fields[21]) * _PAGE)
    return out


def descendants(root: int | None = None) -> list[int]:
    """Live descendant pids of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class ProcSampler:
    """CPU seconds and resident memory of this process and every
    descendant (Spark JVM, Python daemon and workers)."""

    def __init__(self):
        self.peak_rss = 0

    def cpu_s(self) -> float:
        table = _proc_table()
        tree = {os.getpid()} | set(descendants())
        cpu = sum(table[p][1] for p in tree if p in table)
        rss = sum(table[p][2] for p in tree if p in table)
        self.peak_rss = max(self.peak_rss, rss)
        return cpu


class Tracer:
    def __init__(self, sc, enabled: bool, path: str | None = None):
        self.sc = sc
        self.enabled = enabled
        self.path = path
        #: workload phase stamped on every span: setup, warmup, timed, check
        self.phase = "setup"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the body; yields the span record (``dur`` is set on
        exit). Traced runs also count the Spark jobs the body ran."""
        rec = {"name": name, **attrs}
        if not self.enabled:
            t = time.perf_counter()
            try:
                yield rec
            finally:
                rec["dur"] = time.perf_counter() - t
            return
        rec["id"] = len(self.spans)
        rec["phase"] = self.phase
        rec["parent"] = self._stack[-1]["id"] if self._stack else None
        rec["group"] = f"fb-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec["dur"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"],
                                    self._stack[-1]["name"])
            else:
                self.sc.setJobGroup("fb-none", "untraced")

    def resolve_counts(self, timeout_s: float = 20.0) -> None:
        """Fill ``jobs`` and ``tasks`` (own jobs only) of every span.
        Waits until every counted job has finished in the status
        store, so a count never misses a late listener event."""
        if not self.enabled:
            return
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        while True:
            pending = False
            for rec in self.spans:
                jobs = st.getJobIdsForGroup(rec["group"])
                tasks = 0
                for j in jobs:
                    info = st.getJobInfo(j)
                    if info is None or info.status == "RUNNING":
                        pending = True
                        continue
                    for s in info.stageIds:
                        si = st.getStageInfo(s)
                        if si is not None:
                            tasks += si.numCompletedTasks
                rec["jobs"] = len(jobs)
                rec["tasks"] = tasks
            if not pending or time.monotonic() > deadline:
                return
            time.sleep(0.2)

    def write(self) -> None:
        if not (self.enabled and self.path):
            return
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "w", encoding="utf-8") as f:
            for rec in self.spans:
                f.write(json.dumps({k: v for k, v in rec.items()
                                    if k != "group"}) + "\n")
