"""In-memory spans, Spark job counts and process gauges for the benchmark.

Spans are recorded only in traced runs (``--trace 1``); the untraced run
that produces the end-to-end metrics never patches the program and never
sets a job group. Spans are timed from outside the program: ``Tracer.wrap``
replaces a public function of ``ee_outliers_spark`` with a wrapper that
opens a span around the call, in every loaded module that holds a reference
to it (so ``from .build import write_manifest`` call sites are covered).
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager


class Tracer:
    """Spans with name, start, end and parent, kept in memory."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, attrs=None) -> None:
        """Open span ``name`` around every call of ``owner.attr``;
        ``attrs(*args, **kwargs)`` may add attributes to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            extra = attrs(*args, **kwargs) if attrs else {}
            with self.span(name, **extra):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("ee_outliers_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and s["start"] >= since]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(span))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (span["end"] - span["start"]) - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


# --------------------------------------------------------------------------
# Spark job and task counts (job groups + statusTracker)
# --------------------------------------------------------------------------

class JobCounter:
    """Tags the Spark jobs of one operation with a job group and counts
    them, with their tasks, through ``statusTracker``."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._n = 0

    @contextmanager
    def group(self):
        """Yields a dict that holds ``jobs`` and ``tasks`` once the block
        ends (both 0 when counting is off)."""
        out = {"jobs": 0, "tasks": 0}
        if not self.enabled:
            yield out
            return
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            out.update(self.count(gid))

    def count(self, gid: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                s = st.getStageInfo(sid)
                if s is not None:
                    tasks += s.numCompletedTasks
        return {"jobs": len(jobs), "tasks": tasks}


# --------------------------------------------------------------------------
# /proc gauges: CPU seconds and peak RSS of this process and its descendants
# (the JVM, the PySpark daemon and its workers), and the host's steal time
# --------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """utime + stime of every live process in the tree, plus the
    cutime + cstime each has collected from reaped children."""
    total = 0
    for pid in process_tree():
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _CLK


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over the live process tree."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_frac(since: tuple[int, int]) -> float:
    """Share of CPU time stolen by the hypervisor since ``since``; it
    explains run-to-run spread that the program did not cause."""
    steal, total = host_cpu_ticks()
    return (steal - since[0]) / max(1, total - since[1])
