"""Spans around the benchmark's calls into each layer of the library.

A span records name, start, end and parent.  Each span runs its Spark
work under its own job group, so jobs, stages, tasks, task time, shuffle
and spill are attributed to it from Spark's status tracker and status
store once the run is over.  Spans are kept in memory and written out at
the end; a disabled tracer records nothing and calls nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

_STAT_KEYS = ("jobs", "stages", "tasks", "task_s", "shuffle_write_bytes", "spill_bytes")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``: overlaps count once."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover."""
    clipped = [
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in children
    ]
    return (span["end"] - span["start"]) - covered([(a, b) for a, b in clipped if b > a])


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = t1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t1

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def collect_spark_stats(self) -> None:
        """Attach each span's own Spark work (its job group's jobs) as
        ``own``.  A stage listed by several jobs (a reused shuffle shows up
        as skipped in later jobs) counts once, for the first span that
        ran it; skipped stages count nowhere."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), jsc.statusStore()
        seen: set[int] = set()
        for s in self.spans:
            own = dict.fromkeys(_STAT_KEYS, 0)
            for jid in tracker.getJobIdsForGroup(s["group"]):
                own["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info is not None else ():
                    if sid in seen:
                        continue
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    seen.add(sid)
                    own["stages"] += 1
                    own["tasks"] += st.numCompleteTasks()
                    own["task_s"] += st.executorRunTime() / 1000.0
                    own["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    own["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            s["own"] = own

    def stats(self, span: dict) -> dict:
        """Spark work of ``span`` and all its descendants."""
        total = dict.fromkeys(_STAT_KEYS, 0)
        for s in self.subtree(span):
            for k in _STAT_KEYS:
                total[k] += s["own"][k]
        return total

    def dump(self) -> list[dict]:
        return [
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "start": s["start"],
                "end": s["end"],
                "self_s": self_time(s, self.children(s)),
                **s.get("own", {}),
            }
            for s in self.spans
        ]
