"""Benchmark-side tracing: spans, per-layer Spark counters and process RSS.

Nothing here touches the package.  A layer is timed from the outside: the
benchmark sets its own Spark job group around the call into the layer's
public function, forces the layer's output, then reads the jobs of that
group back from the status store.  Jobs are counted by group only, never by
differencing global job ids (the tracker's retention makes that negative).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

MB = 1 << 20


class StageCounters:
    """Sums of the status-store stage metrics for the jobs of one job group."""

    FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "task_s", "gc_s",
              "shuffle_mb")

    def __init__(self, sc) -> None:
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()

    def read(self, group: str) -> dict:
        tracker = self._sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(self.FIELDS, 0)
        out["jobs"] = len(jobs)
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(int(sid))
            except Py4JJavaError:   # a stage AQE skipped has no attempt
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["task_s"] += st.executorRunTime() / 1e3
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_mb"] += st.shuffleWriteBytes() / MB
        return out


class Tracer:
    """Spans (name, start, end, parent, pass id) kept in memory, plus the
    Spark counters and row counts recorded at the same boundaries."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.counters = StageCounters(self.sc)
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0

    def _group(self, name: str) -> str:
        self._seq += 1
        return f"perfbench.{self._seq}.{name}"

    @contextmanager
    def span(self, name: str, pass_id: int):
        """A layer boundary: its own job group, counters read on exit.
        Yields the span dict; callers add row counts under `counts`."""
        parent = self._stack[-1] if self._stack else None
        group = self._group(name)
        rec = {"name": name, "pass": pass_id,
               "parent": parent["name"] if parent else None,
               "group": group, "counts": {}}
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["spark"] = self.counters.read(group)
            self.sc.setJobGroup(parent["group"] if parent else "perfbench.idle",
                                parent["name"] if parent else "idle")
            self.spans.append(rec)

    @contextmanager
    def untimed(self, name: str):
        """Benchmark-side counting jobs, kept out of every layer's group."""
        prev = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(self._group("count." + name), "count")
        try:
            yield
        finally:
            self.sc.setJobGroup(prev["group"] if prev else "perfbench.idle",
                                prev["name"] if prev else "idle")

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its child spans cover."""
        kids = [s for s in self.spans
                if s["parent"] == rec["name"] and s["pass"] == rec["pass"]
                and rec["start"] <= s["start"] and s["end"] <= rec["end"]]
        return (rec["end"] - rec["start"]) - sum(s["end"] - s["start"] for s in kids)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True) + "\n")


def storage_mb(sc) -> float:
    """Spark storage (memory + disk) held by cached RDDs and DataFrames."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of `root_pid` and all of its descendants, from /proc
    (the driver Python, the JVM it launched and the JVM's Python workers)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for child, pp in parent.items():
            if pp == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread sampling the process tree's RSS; `peak_mb` is the
    highest sum seen while it ran."""

    def __init__(self, interval_s: float = 0.2) -> None:
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

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / MB
