"""Measurements taken from outside the library: spans around the
benchmark's own calls, JVM counters read through py4j, job counts from
the status tracker, and SQL metrics of the executed plan."""

from __future__ import annotations

import json
import time
import uuid


class Tracer:
    """In-memory spans of one run; written out once, at the end."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []

    def span(self, name: str, parent: int | None, start: float, end: float,
             **attrs) -> int:
        self.spans.append({"run": self.run_id, "id": len(self.spans),
                           "parent": parent, "name": name, "start": start,
                           "end": end, **attrs})
        return len(self.spans) - 1

    def open(self, name: str, parent: int | None, **attrs) -> int:
        """A span whose end is filled in by close()."""
        now = time.perf_counter()
        return self.span(name, parent, now, now, **attrs)

    def close(self, sid: int, **attrs) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        self.spans[sid].update(attrs)

    def self_ms(self, sid: int) -> float:
        """Duration minus the part its child spans cover."""
        s = self.spans[sid]
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == sid)
        return (s["end"] - s["start"] - kids) * 1e3

    def write(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps(header) + "\n")
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class Jvm:
    """Cumulative JIT and GC time of the driver JVM, which in local mode
    also runs every executor thread."""

    def __init__(self, spark) -> None:
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._sc = spark.sparkContext

    def jit_ms(self) -> int:
        return self._jit.getTotalCompilationTime()

    def gc_ms(self) -> int:
        return sum(g.getCollectionTime() for g in self._gcs)

    def counters(self) -> tuple[int, int]:
        return self.jit_ms(), self.gc_ms()

    def job_counts(self, group: str) -> tuple[int, int, int]:
        """Jobs, stages and tasks that ran under one job group."""
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                stages += 1
                tasks += st.numTasks if st else 0
        return len(jobs), stages, tasks


def _nodes(plan):
    """Every physical operator of an executed plan, looking inside
    adaptive plans and query stages."""
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        yield cls, node
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def plan_metrics(cdf) -> dict[str, int]:
    """SQL metrics of the plan an action ran: shuffle bytes written, and
    for file scans the files, partitions and rows they read."""
    out = {"shuffle_bytes": 0, "files_read": 0, "partitions_read": 0,
           "rows_scanned": 0}
    keys = {"ShuffleExchangeExec": {"shuffleBytesWritten": "shuffle_bytes"},
            "FileSourceScanExec": {"numFiles": "files_read",
                                   "numPartitions": "partitions_read",
                                   "numOutputRows": "rows_scanned"}}
    plan = cdf._jdf.queryExecution().executedPlan()
    for cls, node in _nodes(plan):
        m = node.metrics()
        for key, name in keys.get(cls, {}).items():
            if m.contains(key):
                out[name] += m.apply(key).value()
    return out
