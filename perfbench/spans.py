"""In-memory spans around calls into the engine's layers, with Spark's job
and stage counters attributed to them.

A span is opened either by the benchmark around its own call into a layer
(``Tracer.span``) or by a wrapper that replaces, for the traced iterations
only, the module attribute a caller resolves at call time
(``Tracer.patch``) — the engine's source is never edited. Each span sets a
Spark job group on entry and restores the previous one on exit, so every
job is attributed to the innermost span that was open when it ran. After
an iteration, ``collect`` reads the finished jobs and their stages from
the driver's status store (it works with the UI disabled), and the
``MapInPandas`` row counts from the SQL status store.

Spans carry counters for their own jobs only; ``inclusive`` sums them over
a span's subtree, and ``self_times`` gives each span's duration minus the
time its children cover.
"""

from __future__ import annotations

import functools
import json
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any

from py4j.protocol import Py4JJavaError

GROUP_PREFIX = "perfbench-"
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "run_ms",
    "input_bytes",
    "output_bytes",
    "output_records",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_rows_out",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    iteration: int
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    attrs: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it covered by its direct
    children (clipped to the span, overlaps counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = _union_length(
            [
                (max(c.start, s.start), min(c.end, s.end))
                for c in children.get(s.id, [])
                if c.end > s.start and c.start < s.end
            ]
        )
        out[s.id] = s.duration - covered
    return out


def inclusive(spans: list[Span]) -> dict[int, dict[str, float]]:
    """Span id -> counters summed over the span and all its descendants."""
    by_id = {s.id: s for s in spans}
    out = {s.id: dict(s.counters) for s in spans}
    for s in spans:
        p = s.parent
        while p is not None and p in by_id:
            for k, v in s.counters.items():
                out[p][k] += v
            p = by_id[p].parent
    return out


def _opt(o: Any) -> Any:
    """A Scala ``Option`` as a Python value (None when empty)."""
    return o.get() if o.isDefined() else None


class Tracer:
    """Spans of one benchmark run. Inactive tracers open no spans, so the
    benchmark's own ``span`` calls cost one attribute test when tracing is
    off."""

    def __init__(self, spark: Any = None) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.active = False
        self.iteration = 0
        # Seconds spent opening and closing spans, per iteration: the part
        # of the tracing overhead that lands inside the timed region.
        self.bookkeeping_s: dict[int, float] = {}
        self._stack: list[Span] = []
        self._patches: list[tuple[Any, str, Any]] = []
        self._last_job = -1
        self._last_exec = -1
        self._seen_stages: set[int] = set()
        self._job_span: dict[int, int] = {}

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str, spark_jobs: bool = True) -> Iterator[Span | None]:
        if not self.active:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self.iteration, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext if (spark_jobs and self.spark is not None) else None
        if sc is not None:
            prev = (
                sc.getLocalProperty("spark.jobGroup.id"),
                sc.getLocalProperty("spark.job.description"),
            )
            sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", name)
        t1 = time.perf_counter()
        try:
            yield s
        finally:
            t2 = time.perf_counter()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev[0])
                sc.setLocalProperty("spark.job.description", prev[1])
            s.end = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s[self.iteration] = (
                self.bookkeeping_s.get(self.iteration, 0.0) + (t1 - t0) + (s.end - t2)
            )

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def wrap(
        self,
        fn: Callable[..., Any],
        name: str | Callable[..., str | None] | None,
        on_result: Callable[[Span | None, Any], None] | None = None,
        spark_jobs: bool = True,
    ) -> Callable[..., Any]:
        """``fn`` run inside a span. ``name`` may be a function of the
        call's arguments; a ``None`` name opens no span. ``on_result`` sees
        the span (or, without one, the enclosing span) and the return
        value, to record attributes."""

        @functools.wraps(fn)
        def wrapper(*args: Any, **kwargs: Any) -> Any:
            span_name = name(*args, **kwargs) if callable(name) else name
            if span_name is None:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(self.current(), out)
                return out
            with self.span(span_name, spark_jobs=spark_jobs) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        return wrapper

    def replace(self, owner: Any, attr: str, new: Any) -> None:
        """Set ``owner.attr`` to ``new`` until ``unpatch_all``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def patch(self, owner: Any, attr: str, *args: Any, **kwargs: Any) -> None:
        """Replace ``owner.attr`` by ``wrap(owner.attr, ...)`` until
        ``unpatch_all``."""
        self.replace(owner, attr, self.wrap(getattr(owner, attr), *args, **kwargs))

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark counters ------------------------------------------------

    def collect(self) -> None:
        """Attribute every job finished since the last call to the span
        whose job group it carries, then the ``MapInPandas`` output rows of
        every SQL execution since the last call to the span of its first
        job."""
        by_id = {s.id: s for s in self.spans}
        jsc = self.spark.sparkContext._jsc.sc()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        new = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() > self._last_job:
                new.append(j)
        for j in sorted(new, key=lambda j: j.jobId()):
            jid = j.jobId()
            self._last_job = max(self._last_job, jid)
            group = _opt(j.jobGroup())
            if not group or not group.startswith(GROUP_PREFIX):
                continue
            s = by_id.get(int(group[len(GROUP_PREFIX):]))
            if s is None:
                continue
            self._job_span[jid] = s.id
            c = s.counters
            c["jobs"] += 1
            sids = j.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage never submitted has no attempt
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["failed_tasks"] += st.numFailedTasks()
                c["run_ms"] += st.executorRunTime()
                c["input_bytes"] += st.inputBytes()
                c["output_bytes"] += st.outputBytes()
                c["output_records"] += st.outputRecords()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self._collect_python_rows(by_id)

    def _collect_python_rows(self, by_id: dict[int, Span]) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            self._last_exec = max(self._last_exec, eid)
            it = e.jobs().keysIterator()
            job_ids = []
            while it.hasNext():
                job_ids.append(it.next())
            owners = [self._job_span[j] for j in job_ids if j in self._job_span]
            if not owners:
                continue
            graph = sql.planGraph(eid)
            values = sql.executionMetrics(eid)
            nodes = graph.allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if node.name() != "MapInPandas":
                    continue
                ms = node.metrics()
                for q in range(ms.size()):
                    m = ms.apply(q)
                    if m.name() == "number of output rows":
                        v = _opt(values.get(m.accumulatorId()))
                        if v:
                            by_id[min(owners)].counters["python_rows_out"] += int(
                                str(v).replace(",", "")
                            )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
