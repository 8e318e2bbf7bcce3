"""Spans around the benchmark's calls into each layer of mbrngq_spark.

A span has a name, a start and an end, a parent, the id of the request
(timed operation) it belongs to, and the spans whose work it includes
(``covers``): a span's self time is its duration minus theirs. Replay
spans are separate calls of a layer's public function on the same
inputs, so they are attributed through ``covers`` rather than through
nesting in time.

Each span runs its Spark jobs under a job group of its own. After the run
the job groups give the span's jobs, stages and tasks (status tracker)
and its shuffle bytes and job submission times (event log). Spans stay
in memory until ``Tracer.write``.
"""

from __future__ import annotations

import glob
import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description")


@dataclass
class Span:
    sid: int
    name: str
    rid: int
    parent: int | None
    covers: list[int]
    start: float = 0.0
    end: float = 0.0
    wall_start: float = 0.0
    wall_end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, t0: float):
        self.sc = spark.sparkContext
        self.t0 = t0
        self.spans: list[Span] = []
        self.windows: list[tuple[float, float]] = []
        self.ungrouped_jobs: list[int] = []

    @contextmanager
    def active(self):
        """A traced phase: every Spark job submitted inside it must belong
        to a span (see collect_event_log)."""
        start = time.time()
        try:
            yield
        finally:
            self.windows.append((start, time.time()))

    @contextmanager
    def span(self, name: str, rid: int, parent: int | None = None,
             covers: tuple[int, ...] = ()):
        sp = Span(len(self.spans), name, rid, parent, list(covers))
        self.spans.append(sp)
        outer = [self.sc.getLocalProperty(p) for p in _GROUP_PROPS]
        self.sc.setJobGroup(f"perfbench-{sp.sid}", name)
        sp.wall_start = time.time()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.wall_end = time.time()
            for prop, value in zip(_GROUP_PROPS, outer):
                self.sc.setLocalProperty(prop, value)

    def self_time(self, sp: Span) -> float:
        return sp.duration - sum(self.spans[c].duration for c in sp.covers)

    def collect_status(self) -> None:
        """Jobs, stages and tasks per span from the status tracker. Call
        before the context stops; waits for the listener bus to drain so
        the last task ends of each job are counted."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for sp in self.spans:
            jobs = st.getJobIdsForGroup(f"perfbench-{sp.sid}")
            stage_ids = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            stages = tasks = failed = 0
            for s in stage_ids:
                info = st.getStageInfo(s)
                if info is None:
                    continue
                ran = info.numCompletedTasks + info.numFailedTasks
                stages += ran > 0
                tasks += ran
                failed += info.numFailedTasks
            sp.counts.update(jobs=len(jobs), stages=stages, tasks=tasks,
                             failed_tasks=failed)

    def collect_event_log(self, event_dir: str) -> None:
        """Shuffle bytes written and job submission times per span, from
        the uncompressed event log of the stopped application. Adds
        ``jobs_outside_span`` to each span: jobs of its group submitted
        before it began or after it ended; and sets ``ungrouped_jobs``:
        submission times (epoch ms) of jobs in no span's group submitted
        during an ``active`` phase. Both are work that escaped the timer
        meant to measure it."""
        groups = {f"perfbench-{sp.sid}": sp for sp in self.spans}
        stage_group: dict[int, str] = {}
        shuffle: dict[str, int] = {}
        outside: dict[str, int] = {}
        self.ungrouped_jobs = []
        # a rolling event log is a directory of numbered files
        paths = sorted((p for p in glob.glob(os.path.join(event_dir, "**"),
                                             recursive=True)
                        if os.path.isfile(p)),
                       key=lambda p: [int(s) if s.isdigit() else s
                                      for s in p.replace("_", " ").split()])
        for path in paths:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id")
                        if g not in groups:
                            t = ev["Submission Time"]
                            if any(a * 1000 <= t <= b * 1000
                                   for a, b in self.windows):
                                self.ungrouped_jobs.append(t)
                            continue
                        sp = groups[g]
                        t = ev["Submission Time"]
                        if not (math.floor(sp.wall_start * 1000) <= t
                                <= math.ceil(sp.wall_end * 1000)):
                            outside[g] = outside.get(g, 0) + 1
                    elif kind == "SparkListenerStageSubmitted":
                        g = (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id")
                        if g in groups:
                            stage_group[ev["Stage Info"]["Stage ID"]] = g
                    elif kind == "SparkListenerTaskEnd":
                        g = stage_group.get(ev["Stage ID"])
                        metrics = ev.get("Task Metrics") or {}
                        written = (metrics.get("Shuffle Write Metrics") or {}
                                   ).get("Shuffle Bytes Written", 0)
                        if g is not None:
                            shuffle[g] = shuffle.get(g, 0) + written
        for g, sp in groups.items():
            sp.counts["shuffle_write_bytes"] = shuffle.get(g, 0)
            sp.counts["jobs_outside_span"] = outside.get(g, 0)

    def write(self, path: str) -> None:
        rows = []
        for sp in self.spans:
            row = asdict(sp)
            row["start"] = sp.start - self.t0
            row["end"] = sp.end - self.t0
            row["duration_s"] = sp.duration
            row["self_s"] = self.self_time(sp)
            rows.append(row)
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


class RssMonitor:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    # the command name may hold spaces; fields after ')'
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for child, par in parent.items():
                if par == p and child not in tree:
                    tree.add(child)
                    frontier.append(child)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.INTERVAL_S)
