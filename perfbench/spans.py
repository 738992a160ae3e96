"""In-memory spans and per-request Spark job metrics.

A span has a name, a layer, start and end (epoch seconds), a parent and the
request id shared by every span of one request. Spark jobs become leaf spans
(layer ``jobs``) read back from Spark's status store after the request, under
the job group the tracer set for it. A layer's self time is its spans'
duration minus the part their children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    request: int
    attrs: dict = field(default_factory=dict)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span], idxs: list[int]) -> dict[int, float]:
    """Self time of the spans at ``idxs``: each one's duration minus the
    union of its children's intervals clipped to it."""
    children: dict[int, list[tuple[float, float]]] = {}
    for i in idxs:
        sp = spans[i]
        if sp.parent is not None:
            p = spans[sp.parent]
            s, e = max(sp.start, p.start), min(sp.end, p.end)
            if e > s:
                children.setdefault(sp.parent, []).append((s, e))
    return {
        i: (spans[i].end - spans[i].start) - _covered(children.get(i, []))
        for i in idxs
    }


class NullTracer:
    """Untraced runs: spans cost a clock read and are not kept."""

    enabled = False

    def begin_request(self, name: str) -> int:
        return -1

    def end_request(self, rid: int) -> None:
        pass

    @contextmanager
    def span(self, name: str, layer: str):
        yield


class Tracer:
    """Records spans in memory; :meth:`dump` writes them out at the end."""

    enabled = True

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._rid = 0

    def begin_request(self, name: str) -> int:
        t0 = time.perf_counter()
        self._rid += 1
        self.sc.setJobGroup(f"perfbench-{self._rid}", name, False)
        idx = len(self.spans)
        self.spans.append(Span(name, "request", time.time(), 0.0, None, self._rid))
        self._stack = [idx]
        self.overhead_s += time.perf_counter() - t0
        return idx

    def end_request(self, idx: int) -> None:
        root = self.spans[idx]
        root.end = time.time()
        t0 = time.perf_counter()
        self.sc.setJobGroup("perfbench-idle", "idle", False)
        self._stack = []
        self._add_jobs(idx)
        self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        rid = self.spans[parent].request if parent is not None else 0
        idx = len(self.spans)
        self.spans.append(Span(name, layer, time.time(), 0.0, parent, rid))
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()

    def _add_jobs(self, root_idx: int) -> None:
        """Read the request's jobs from the status store and attach each as
        a ``jobs`` span under the innermost span that contains its start."""
        root = self.spans[root_idx]
        rid = root.request
        own = [
            i for i in range(root_idx, len(self.spans)) if self.spans[i].request == rid
        ]
        store = self.sc._jsc.sc().statusStore()
        for jid in self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{rid}"):
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            s = max(sub.get().getTime() / 1000.0, root.start)
            e = min(done.get().getTime() / 1000.0, root.end)
            parent = max(
                (i for i in own if self.spans[i].start <= s <= self.spans[i].end),
                key=lambda i: self.spans[i].start,
                default=root_idx,
            )
            attrs = {"stages": 0, "skipped_stages": 0, "tasks": 0, "failed_tasks": 0,
                     "executor_run_s": 0.0, "executor_cpu_s": 0.0, "input_mb": 0.0,
                     "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
            ids = job.stageIds()
            for sid in [ids.apply(i) for i in range(ids.length())]:
                st = store.lastStageAttempt(sid)
                attrs["stages"] += 1
                if st.status().toString() == "SKIPPED":
                    attrs["skipped_stages"] += 1
                    continue
                attrs["tasks"] += st.numTasks()
                attrs["failed_tasks"] += st.numFailedTasks()
                attrs["executor_run_s"] += st.executorRunTime() / 1e3
                attrs["executor_cpu_s"] += st.executorCpuTime() / 1e9
                attrs["input_mb"] += st.inputBytes() / 2**20
                attrs["shuffle_read_mb"] += (
                    st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()
                ) / 2**20
                attrs["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                attrs["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / 2**20
            self.spans.append(
                Span(f"job-{jid}", "jobs", s, max(s, e), parent, rid, attrs)
            )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def request_breakdown(spans: list[Span], root_idx: int) -> dict:
    """One request's wall split into layers: ``plan_build`` (self time of
    ``registry`` spans), ``jobs`` (union of job intervals) and ``gap``
    (everything else on the driver: Catalyst, py4j, Arrow collect, the
    client), plus each layer's self time. The three parts sum to the wall."""
    root = spans[root_idx]
    mine = [i for i in range(root_idx, len(spans)) if spans[i].request == root.request]
    own = [spans[i] for i in mine]
    by_layer: dict[str, float] = {}
    for i, t in self_times(spans, mine).items():
        by_layer[spans[i].layer] = by_layer.get(spans[i].layer, 0.0) + t
    wall = root.end - root.start
    jobs = _covered(
        [(sp.start, sp.end) for sp in own if sp.layer == "jobs"]
    )
    plan = by_layer.get("registry", 0.0)
    return {
        "wall": wall,
        "plan_build": plan,
        "jobs": jobs,
        "gap": wall - plan - jobs,
        "self": by_layer,
        "job_attrs": [sp.attrs for sp in own if sp.layer == "jobs"],
    }
