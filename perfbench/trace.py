"""In-memory spans around the benchmark's calls into the package, plus the
Spark work each op caused, read back from the session's status store.

A span is (name, start, end, parent span, op id). An op runs under its own
Spark job group; at the op boundary the tracer collects the op's jobs (the
group's jobs, plus ungrouped jobs that appeared during the op, which is how
jobs run by the HTTP server's handler thread are found) and sums stages,
tasks, shuffle bytes and executor run time over them. Everything stays in
memory until ``dump``. When tracing is off every method is a no-op.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class OpWork:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0       # shuffle bytes written
    task_s: float = 0.0          # summed executor run time
    job_spans: list[tuple[float, float]] = field(default_factory=list)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[list] = []      # [name, start, end, parent, op]
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._handle: dict | None = None
        self.bookkeeping_s = 0.0         # tracer time outside op latency

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Record a span. With ``jobs=True`` (inside a traced op) the span's
        Spark jobs run under their own sub-group, so ``end_op`` can report
        them separately under ``op["sub"][name]``."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self._op])
        self._stack.append(idx)
        sub = jobs and self._handle is not None
        if sub:
            group = f"{self._handle['group']}/{name}"
            self._handle["subs"].setdefault(name, []).append(group + f"#{idx}")
            self.spark.sparkContext.setJobGroup(group + f"#{idx}", name)
        try:
            yield
        finally:
            if sub:
                self.spark.sparkContext.setJobGroup(self._handle["group"],
                                                    self._handle["kind"])
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()

    # -- ops -----------------------------------------------------------------
    def begin_op(self, kind: str, traced: bool) -> dict | None:
        """Open an op; returns a handle for ``end_op`` (None when off)."""
        if not (self.enabled and traced):
            return None
        sc = self.spark.sparkContext
        op_id = len(self.ops)
        self._op = op_id
        tracker = sc.statusTracker()
        handle = {"id": op_id, "kind": kind, "group": f"bench:{op_id}:{kind}",
                  "subs": {},
                  "ungrouped_before": set(tracker.getJobIdsForGroup(None)),
                  "wall0": time.time()}
        sc.setJobGroup(handle["group"], kind)
        self._handle = handle
        return handle

    def end_op(self, handle: dict | None, latency_s: float, ok: bool) -> None:
        if handle is None:
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        self._handle = None
        wall1 = time.time()
        tracker = sc.statusTracker()
        subs = {name: sorted({j for g in groups
                              for j in tracker.getJobIdsForGroup(g)})
                for name, groups in handle["subs"].items()}
        ids = set(tracker.getJobIdsForGroup(handle["group"]))
        ids |= set(tracker.getJobIdsForGroup(None)) - handle["ungrouped_before"]
        for sub_ids in subs.values():
            ids |= set(sub_ids)
        work = self._job_work(sorted(ids))
        clipped = [(max(a, handle["wall0"]), min(b, wall1))
                   for a, b in work.job_spans]
        covered = _union_length([(a, b) for a, b in clipped if b > a])
        sub_work = {}
        for name, sub_ids in subs.items():
            w = self._job_work(sub_ids)
            sub_work[name] = {"jobs": w.jobs, "tasks": w.tasks,
                              "shuffle_bytes": w.shuffle_bytes,
                              "task_s": w.task_s}
        self.ops.append({
            "id": handle["id"], "kind": handle["kind"], "ok": ok,
            "latency_s": latency_s, "jobs": work.jobs, "stages": work.stages,
            "tasks": work.tasks, "shuffle_bytes": work.shuffle_bytes,
            "task_s": work.task_s, "sub": sub_work,
            "driver_gap_s": max(0.0, (wall1 - handle["wall0"]) - covered),
        })
        self._op = None
        self.bookkeeping_s += time.perf_counter() - t0

    def _job_work(self, job_ids: list[int]) -> OpWork:
        """Sum the status-store figures of finished jobs. The listener bus
        is asynchronous, so wait (bounded) until each job is marked done."""
        from py4j.protocol import Py4JJavaError

        store = self.spark.sparkContext._jsc.sc().statusStore()
        work = OpWork()
        for jid in job_ids:
            job = None
            for _ in range(200):
                job = store.job(jid)
                if job.completionTime().isDefined():
                    break
                time.sleep(0.005)
            work.jobs += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                work.job_spans.append((job.submissionTime().get().getTime() / 1e3,
                                       job.completionTime().get().getTime() / 1e3))
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:   # skipped stage: never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                work.stages += 1
                work.tasks += st.numCompleteTasks() + st.numFailedTasks()
                work.shuffle_bytes += st.shuffleWriteBytes()
                work.task_s += st.executorRunTime() / 1e3
        return work

    # -- reporting -----------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for name, start, end, parent, _ in self.spans:
            if parent is not None and end is not None:
                children[parent].append((start, end))
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _, _) in enumerate(self.spans):
            if end is None:
                continue
            out[name] += (end - start) - _union_length(children.get(i, []))
        return dict(out)

    def span_durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _, _ in self.spans if n == name and e]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.ops,
                       "self_time_s": self.self_times(), **extra}, fh)
