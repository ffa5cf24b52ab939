"""Measurement helpers for the pipeline benchmark: percentiles with their
sample-count rule, in-memory spans with self time, interval unions, the
lake-directory inode walk, peak RSS of the process tree, and the fold of
Spark's event log into per-span job/stage/task figures.

Nothing here imports Spark; every function works on plain numbers, paths
and JSON, so it is unit-tested without a session.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

#: a percentile is reported only with at least this many samples beyond it
TAIL_SAMPLES = 10


# -- percentiles ---------------------------------------------------------------


def min_samples(q: float) -> int:
    """Fewest samples for which the ``q`` quantile has ``TAIL_SAMPLES``
    samples beyond it (p50 → 20, p90 → 100)."""
    return math.ceil(TAIL_SAMPLES / (1.0 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q`` quantile of ``values``. Raises ``ValueError``
    when fewer than :func:`min_samples` values back it, except for the
    median, which is reported from any non-empty sample."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    if q == 0.5:
        return statistics.median(values)
    if n < min_samples(q):
        raise ValueError(f"p{round(q * 100)} needs {min_samples(q)} samples, got {n}")
    return sorted(values)[max(0, math.ceil(q * n) - 1)]


# -- intervals -----------------------------------------------------------------


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``(start, end)`` intervals, each clipped to
    ``[lo, hi]`` when given. Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- spans ---------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with Spark's event-log times
    end: float
    parent: int | None
    run_id: str
    workload: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory, written as JSON lines by :meth:`dump`. A
    disabled tracer records nothing and its :meth:`span` costs one
    branch."""

    def __init__(self, enabled: bool, run_id: str, workload: str):
        self.enabled = enabled
        self.run_id = run_id
        self.workload = workload
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        s = Span(sid, name, time.time(), 0.0, parent, self.run_id, self.workload, dict(attrs))
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def named(self, name: str) -> list[Span]:
        return sorted((s for s in self.spans if s.name == name), key=lambda s: s.start)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({**s.__dict__, "self_s": self_time(s, self.spans)}) + "\n")


def self_time(span: Span, spans: list[Span]) -> float:
    """``span``'s duration minus the part of it its direct children cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.id]
    return span.duration - union_length(kids, span.start, span.end)


# -- lake directory walks ------------------------------------------------------


def parquet_inodes(path: str) -> dict[str, tuple[int, int]]:
    """``{relative path: (inode, bytes)}`` of every data file under
    ``path``. A hard-linked file keeps its inode across a table swap."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                out[os.path.relpath(p, path)] = (st.st_ino, st.st_size)
    return out


def rewrite_stats(before: dict, after: dict) -> dict:
    """Files of ``after`` whose inode ``before`` lacks were written anew."""
    old = {ino for ino, _ in before.values()}
    new = [size for ino, size in after.values() if ino not in old]
    return {
        "table_files": len(after),
        "files_rewritten": len(new),
        "files_rewritten_frac": len(new) / len(after) if after else 0.0,
        "bytes_written": sum(new),
    }


# -- process-tree memory -------------------------------------------------------


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """Children of every process, and every process's RSS in bytes."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{d}/statm") as fh:
                rss[int(d)] = int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(int(stat[1]), []).append(int(d))
    return children, rss


def _tree(children: dict[int, list[int]], root_pid: int) -> list[int]:
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def descendants(root_pid: int) -> list[int]:
    return _tree(_proc_table()[0], root_pid)[1:]


def _tree_rss_bytes(root_pid: int) -> int:
    children, rss = _proc_table()
    return sum(rss.get(p, 0) for p in _tree(children, root_pid))


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (JVM, Python workers) on a background thread; ``peak_mb`` is the
    largest sample. Use as a context manager."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# -- Spark event log -----------------------------------------------------------


@dataclass
class EventLog:
    """Jobs, stages and tasks read from a Spark event-log directory."""

    jobs: dict = field(default_factory=dict)  # job id -> {start, end, stages}
    tasks: list = field(default_factory=list)  # (stage, launch, finish, metrics)

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        log = cls()
        paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        for path in sorted(p for p in paths if os.path.isfile(p)):
            with open(path) as fh:
                for line in fh:
                    log._add(json.loads(line))
        return log

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            py_ms = sum(
                int(a.get("Update", 0) or 0)
                for a in info.get("Accumulables", [])
                if a.get("Name", "").startswith(PYTHON_TIME_METRICS)
            )
            self.tasks.append(
                (
                    ev["Stage ID"],
                    info.get("Launch Time", 0) / 1000.0,
                    info.get("Finish Time", 0) / 1000.0,
                    {
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_read_mb": (
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        )
                        / 2**20,
                        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / 2**20,
                        "spill_mb": (
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        )
                        / 2**20,
                        "python_s": py_ms / 1000.0,
                    },
                )
            )

    def fold(self, start: float, end: float) -> dict:
        """Spark figures of the jobs submitted within ``[start, end]``."""
        jobs = [j for j in self.jobs.values() if start <= j["start"] <= end]
        stage_ids = {s for j in jobs for s in j["stages"]}
        tasks = [t for t in self.tasks if t[0] in stage_ids]
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len({t[0] for t in tasks}),
            "spark.tasks": len(tasks),
            "spark.driver_gap_s": (end - start)
            - union_length(((j["start"], j["end"] or end) for j in jobs), start, end),
        }
        for k in ("run_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
                  "spill_mb", "python_s"):
            name = {"run_s": "executor_run_s", "cpu_s": "executor_cpu_s"}.get(k, k)
            out[f"spark.{name}"] = sum(t[3][k] for t in tasks)
        out["spark.task_skew"] = task_skew(tasks)
        return out


#: SQL metrics of the Python exec nodes (ArrowEvalPython, MapInArrow, ...)
#: that count time; their accumulator updates are milliseconds
PYTHON_TIME_METRICS = ("time to run Python workers",)


def task_skew(tasks) -> float:
    """max ÷ median task duration in the worst stage (1.0 when even)."""
    by_stage: dict = {}
    for stage, launch, finish, _m in tasks:
        by_stage.setdefault(stage, []).append(max(finish - launch, 1e-3))
    worst = 1.0
    for durs in by_stage.values():
        if len(durs) > 1:
            worst = max(worst, max(durs) / statistics.median(durs))
    return worst
