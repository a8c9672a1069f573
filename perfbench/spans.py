"""Spans around the library's public functions, with Spark work per span.

Only the traced run (``--trace 1``) installs the wrappers. Each span
records its name, start, end, parent span and op id; while a span is open
its thread's Spark job group is the span's own, so every job lands in the
innermost open span. ``Tracer.collect`` then reads each closed span's
jobs and stages from the status tracker and the application status store,
which Spark keeps with the UI disabled.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: stage counters summed per span; times in seconds, sizes in bytes
EXEC_FIELDS = (
    "jobs", "stages", "tasks", "empty_tasks", "run_s", "cpu_s", "gc_s",
    "input_bytes", "input_records", "shuffle_read_records",
    "shuffle_write_bytes", "spill_bytes", "output_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)
    exec: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._pending: list[Span] = []
        self._seen_stages: set[int] = set()
        self.sc = None
        #: time spent opening and closing spans (bookkeeping and
        #: ``setJobGroup`` calls): the tracing cost inside timed regions
        self.overhead_s = 0.0

    def attach(self, spark) -> None:
        if self.enabled:
            self.sc = spark.sparkContext

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        s = Span(
            sid, name, parent.id if parent else None,
            op if op is not None else (parent.op if parent else None),
            t_in, group=f"perfbench-{sid}", attrs=dict(attrs),
        )
        stack.append(s)
        self._set_group(s)
        t_body = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(s)
                self._pending.append(s)
                self.overhead_s += t_body - t_in + time.perf_counter() - s.end

    def wrap(self, module, name: str, label: str, on_result=None) -> None:
        """Replace ``module.name`` with a wrapper that opens span ``label``;
        ``on_result(span, result)`` may record attributes of the result."""
        fn = getattr(module, name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(label) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        setattr(module, name, traced)

    def collect(self) -> None:
        """Attach stage counters to every span closed since the last call.
        Call it after each op, before the status store evicts old jobs."""
        if self.sc is None:
            return
        with self._lock:
            pending, self._pending = self._pending, []
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in pending:
            s.exec = _span_exec(tracker, store, s.group, self._seen_stages)

    def self_time(self, span: Span) -> float:
        """Span wall minus the part of it that its child spans cover."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == span.id
        )
        covered, lo, hi = 0.0, None, None
        for a, b in kids:
            if hi is None or a > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = a, b
            else:
                hi = max(hi, b)
        if hi is not None:
            covered += hi - lo
        return span.wall - covered

    def record(self, span: Span) -> dict:
        """``span`` as a JSON-ready dict, with its self time."""
        return {
            "id": span.id, "name": span.name, "parent": span.parent, "op": span.op,
            "start": span.start, "end": span.end, "self_s": self.self_time(span),
            "attrs": span.attrs, "exec": span.exec,
        }

    def inclusive(self, span: Span) -> dict:
        """``span``'s stage counters plus those of all its descendants."""
        kids: dict[int, list[Span]] = {}
        for c in self.spans:
            kids.setdefault(c.parent, []).append(c)
        total = dict.fromkeys(EXEC_FIELDS, 0)
        todo = [span]
        while todo:
            s = todo.pop()
            for k, v in s.exec.items():
                total[k] += v
            todo.extend(kids.get(s.id, ()))
        return total


def _span_exec(tracker, store, group: str, seen: set[int]) -> dict:
    out = dict.fromkeys(EXEC_FIELDS, 0)
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["input_bytes"] += st.inputBytes()
            out["input_records"] += st.inputRecords()
            out["shuffle_read_records"] += st.shuffleReadRecords()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["output_bytes"] += st.outputBytes()
            out["empty_tasks"] += _empty_tasks(store, sid, st.attemptId(), st.numTasks())
    return out


def _empty_tasks(store, stage_id: int, attempt: int, n: int) -> int:
    """Tasks of one stage attempt that read no input and no shuffle records."""
    empty = 0
    tasks = store.taskList(stage_id, attempt, n)
    for i in range(tasks.size()):
        m = tasks.apply(i).taskMetrics()
        if m.isEmpty():
            continue
        m = m.get()
        if m.inputMetrics().recordsRead() == 0 and m.shuffleReadMetrics().recordsRead() == 0:
            empty += 1
    return empty
