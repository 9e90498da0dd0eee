"""Spans around calls into each layer, folded with Spark's event log.

A span is one call: name, start, end and the span that called it. While a
span is open its calls run under a Spark job group named after the span, so
every job, stage and task in the event log can be charged to the innermost
open span. Spans stay in memory; :func:`fold` joins them with the event log
once the session has stopped and the log is complete.

With tracing off, :meth:`Tracer.span` does nothing, so the same workload code
runs traced and untraced.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

#: seconds between two samples of the process tree's memory
RSS_INTERVAL_S = 0.2


@dataclass
class Span:
    name: str
    sid: str
    parent: str | None
    start: float  # epoch seconds, the clock the event log uses
    end: float = 0.0
    wall: float = 0.0
    children: list[str] = field(default_factory=list)


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: dict[str, Span] = {}
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"perfbench-{len(self.spans)}", parent and parent.sid, time.time())
        self.spans[s.sid] = s
        if parent is not None:
            parent.children.append(s.sid)
        self._stack.append(s)
        self.sc.setJobGroup(s.sid, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            s.wall = time.perf_counter() - t0
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.sid, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn):
        """``fn`` wrapped in a span; unchanged when tracing is off."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (uncompressed) event log file under ``log_dir``."""
    events = []
    for root, _, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith("."):
                continue
            with open(os.path.join(root, f)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    busy, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return busy


def fold(spans: dict[str, Span], events: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name, the mean per call of: wall time, jobs, tasks, summed
    executor run time, shuffle bytes written, bytes spilled, the driver gap
    (wall time with no task of the span running) and the self time (wall
    minus the wall of child spans). Counts are inclusive: a span owns its
    own jobs and its children's."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[str, list[tuple]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                jobs[g] = jobs.get(g, 0) + 1
        elif kind == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                stage_group[e["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            info, m = e.get("Task Info") or {}, e.get("Task Metrics") or {}
            if g is None or not info:
                continue
            tasks.setdefault(g, []).append((
                info["Launch Time"] / 1000.0,
                info["Finish Time"] / 1000.0,
                m.get("Executor Run Time", 0) / 1000.0,
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            ))

    def subtree(sid: str) -> list[str]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(spans[s].children)
        return out

    per_name: dict[str, list[dict[str, float]]] = {}
    for s in spans.values():
        ids = subtree(s.sid)
        ts = [t for i in ids for t in tasks.get(i, ())]
        busy = _busy_seconds([(t[0], t[1]) for t in ts], s.start, s.end)
        per_name.setdefault(s.name, []).append({
            "wall_s": s.wall,
            "jobs": sum(jobs.get(i, 0) for i in ids),
            "tasks": len(ts),
            "executor_run_s": sum(t[2] for t in ts),
            "shuffle_write_bytes": sum(t[3] for t in ts),
            "spill_bytes": sum(t[4] for t in ts),
            "driver_gap_s": max(0.0, (s.end - s.start) - busy),
            "self_s": s.wall - sum(spans[c].wall for c in s.children),
        })
    return {
        name: {f: statistics.fmean(c[f] for c in calls) for f in calls[0]}
        for name, calls in per_name.items()
    }


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants."""
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return pids


def tree_cpu_seconds(root: int) -> float:
    """CPU time (user + system) of the calling thread and of every
    descendant of ``root``, children they have reaped included. Time the
    host gives to other tenants is not in it, so it is steadier than wall
    time on a shared machine. Threads of ``root`` other than the caller
    (the RSS sampler) are left out."""
    total = 0
    for pid in tree_pids(root)[1:]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK") + time.thread_time()


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants, as proportional
    set sizes so pages that forked Python workers share count once."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration, ValueError):
            continue
    return total


class RssSampler:
    """Background thread that samples the process tree's RSS and keeps the
    peak. Use as a context manager."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
