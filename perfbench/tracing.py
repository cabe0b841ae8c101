"""Spans and counters for the traced run.

The tracer wraps the engine's public calls from outside (the HTTP handler,
GraphStore.query, parse_query, evaluate_query, serializers.to_json) and
reads what Spark itself records: Catalyst phase times from the query's
QueryPlanningTracker, and per-job/stage statistics from the status store,
found through a per-op job group. Spark jobs become spans of their own,
parented to the Python span whose interval holds them.

Spans (name, start, end, parent, op) stay in memory and are written as
JSON lines when the run ends. A span's self time is its duration minus the
part of it that its children cover.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Optional

from py4j.protocol import Py4JJavaError

PHASES = ("analysis", "optimization", "planning")


def _group(op: int) -> str:
    return f"perfbench-op-{op}"


def union_s(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    sid: int
    name: str
    op: int
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op = -1
        self.root: Optional[int] = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.py4j_calls = 0
        # wall clock (Spark's job times) -> perf_counter domain
        self._offset = time.perf_counter() - time.time()
        self._qe: dict[int, list] = {}

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            sp = Span(len(self.spans), name, self.op, time.perf_counter(),
                      parent=parent, attrs=attrs)
            self.spans.append(sp)
        stack.append(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    @contextmanager
    def op_span(self, op: int):
        """Root span of one benchmark op; Spark jobs of the op are tagged
        with a job group named after it."""
        self.op = op
        with self.span("op") as sp:
            self.root = sp.sid
            try:
                yield sp
            finally:
                self.root = None

    def tag_thread(self):
        """Put the calling thread's Spark jobs in the current op's group."""
        self.sc.setJobGroup(_group(self.op), "perfbench")

    # -- wrapping public calls --------------------------------------------

    def wrap(self, owner, attr: str, name: str, before=None, count=False):
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if before is not None:
                args = before(*args) or args
            with tracer.span(name) as sp:
                n0 = tracer.py4j_calls
                try:
                    return orig(*args, **kwargs)
                finally:
                    if count:
                        sp.attrs["py4j_calls"] = tracer.py4j_calls - n0

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def count_py4j(self):
        client = self.sc._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def send_command(*args, **kwargs):
            tracer.py4j_calls += 1
            return orig(*args, **kwargs)

        self._patches.append((client, "send_command", orig))
        client.send_command = send_command

    def force_plan(self, result):
        """Run Catalyst up to the physical plan before serializing, as its
        own span, and keep the QueryExecution to read phase times later."""
        qe = result.df._jdf.queryExecution()
        with self.span("plans.catalyst"):
            qe.executedPlan()
        self._qe.setdefault(self.op, []).append(qe)
        return (result,)

    def uninstall(self):
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- Spark-side statistics --------------------------------------------

    def collect_op(self, op: int) -> dict:
        """After an op: its Catalyst phase times and plan size, and its
        Spark jobs as spans with stage statistics. Called outside the op's
        root span, so its own py4j traffic is not attributed to the op."""
        out = {p: 0.0 for p in PHASES}
        out.update(plan_nodes=0, jobs=0, tasks=0, cpu_ms=0.0,
                   shuffle_bytes=0, scan_rows=0)
        for qe in self._qe.pop(op, []):
            phases = qe.tracker().phases()
            for p in PHASES:
                s = phases.get(p)
                if s.isDefined():
                    out[p] += s.get().durationMs()
            out["plan_nodes"] += qe.optimizedPlan().treeString() \
                .count("\n")
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        for jid in self.sc.statusTracker().getJobIdsForGroup(_group(op)):
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            self.spans.append(Span(
                len(self.spans), "exec.job", op,
                sub.get().getTime() / 1000 + self._offset,
                done.get().getTime() / 1000 + self._offset))
            out["jobs"] += 1
            stages = job.stageIds()
            for i in range(stages.size()):
                try:
                    st = store.lastStageAttempt(stages.apply(i))
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["scan_rows"] += st.inputRecords()
        return out

    # -- analysis ----------------------------------------------------------

    def link_jobs(self):
        """Parent each Spark job span to the innermost Python span of the
        same op whose interval holds the job's midpoint."""
        by_op: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.name != "exec.job":
                by_op.setdefault(s.op, []).append(s)
        for s in self.spans:
            if s.name != "exec.job" or s.parent is not None:
                continue
            mid = (s.start + s.end) / 2
            holders = [p for p in by_op.get(s.op, ())
                       if p.start <= mid <= p.end]
            if holders:
                s.parent = min(holders, key=lambda p: p.end - p.start).sid

    def self_times(self) -> dict[int, float]:
        """Span id -> self time (duration minus the union of its
        children's intervals, clipped to the span)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return {s.sid: (s.end - s.start) - union_s(
                    (max(c.start, s.start), min(c.end, s.end))
                    for c in kids.get(s.sid, ()))
                for s in self.spans}

    def write(self, path: Path):
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "op": s.op,
                    "start": s.start, "end": s.end, "parent": s.parent,
                    **s.attrs}) + "\n")
