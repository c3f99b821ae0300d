"""Spans around calls into the package's layers, with Spark counters.

A span records name, start, end, parent span and request id. Spans are
kept in memory and written out when the run ends.

Two kinds of per-layer numbers come from spans:

- wall time of calls into a module's public function, through wrappers
  :func:`install_wrappers` puts on the module attribute the caller looks
  up (``operators.ivf`` imports ``bounded_sample_vectors`` by name but
  calls ``KM.lloyd`` / ``K.rotate`` through the module);
- Spark counters for the jobs a span triggered. Each span runs its calls
  under its own job group (``spark.jobGroup.id`` is a thread-local
  property, and PySpark pins Python threads to JVM threads, so spans on
  different threads do not mix), and the jobs of that group are read from the
  SparkContext status store right after the span ends.

Executor-side Python (UDF bodies) runs in worker processes that import
the package afresh, so wrappers never reach it: executor kernels work is
visible only through ``executor_cpu_ms``.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Spark counter set recorded per span (summed over the span's subtree)
COUNTERS = (
    "jobs",
    "tasks",
    "rows_read",
    "bytes_read",
    "shuffle_bytes",
    "spill_bytes",
    "bytes_written",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "driver_ms",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str | None
    start: float  # epoch seconds
    end: float = 0.0
    #: own jobs' counters (not the subtree's), filled when the span ends
    counters: dict = field(default_factory=dict)
    #: (submit, complete) epoch seconds of the span's own jobs
    job_intervals: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """The untraced run: spans cost one generator frame and record nothing."""

    @contextmanager
    def span(self, name: str, request: str | None = None):
        yield None


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, request: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent.request
        with self._lock:
            sid = next(self._ids)
        sp = Span(sid, name, parent.id if parent else None, request, time.time())
        stack.append(sp)
        if self.sc is not None:
            self._set_group(f"perfbench-{sid}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self._set_group(f"perfbench-{parent.id}", parent.name)
                else:
                    self._set_group(None, None)
                self._read_counters(sp)
            with self._lock:
                self.spans.append(sp)

    def _set_group(self, group: str | None, description: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", description)

    def _read_counters(self, sp: Span) -> None:
        """Sum the status-store stage metrics of the span's own jobs."""
        jsc = self.sc._jsc.sc()
        # the status store is fed by the async listener bus: drain it so
        # the span's last task-end events have landed
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        c = dict.fromkeys(COUNTERS, 0)
        seen: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{sp.id}"):
            job = store.job(jid)
            c["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                sp.job_intervals.append(
                    (
                        job.submissionTime().get().getTime() / 1e3,
                        job.completionTime().get().getTime() / 1e3,
                    )
                )
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                c["tasks"] += st.numCompleteTasks()
                c["rows_read"] += st.inputRecords()
                c["bytes_read"] += st.inputBytes()
                c["shuffle_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["bytes_written"] += st.outputBytes()
                c["executor_run_ms"] += st.executorRunTime()
                c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                c["gc_ms"] += st.jvmGcTime()
        sp.counters = c

    # ------------------------------------------------------------------
    # Analysis
    # ------------------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        return kids

    def subtree_counters(self, sp: Span, kids: dict[int, list[Span]]) -> dict:
        """The span's counters summed over itself and every descendant;
        ``driver_ms`` is the span's wall minus the time its jobs cover."""
        total = dict.fromkeys(COUNTERS, 0)
        intervals = []
        todo = [sp]
        while todo:
            s = todo.pop()
            for k, v in s.counters.items():
                total[k] += v
            intervals.extend(s.job_intervals)
            todo.extend(kids.get(s.id, []))
        total["driver_ms"] = 1e3 * (sp.seconds - covered(sp.start, sp.end, intervals))
        return total

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's wall minus the part
        of it that its child spans cover."""
        kids = self.children()
        out: dict[str, float] = {}
        for sp in self.spans:
            inner = [(c.start, c.end) for c in kids.get(sp.id, [])]
            own = sp.seconds - covered(sp.start, sp.end, inner)
            out[sp.name] = out.get(sp.name, 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": sp.id,
                            "name": sp.name,
                            "parent": sp.parent,
                            "request": sp.request,
                            "start": sp.start,
                            "end": sp.end,
                            "counters": sp.counters,
                        }
                    )
                    + "\n"
                )


def covered(start: float, end: float, intervals: list) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the layer functions the package calls through module attributes,
    so each call becomes a span. Only the traced run installs them."""
    from vectorchord_spark import kernels
    from vectorchord_spark.operators import graph, ivf, kmeans

    def wrap(module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        setattr(module, attr, traced)

    wrap(ivf, "bounded_sample_vectors", "sampling.bounded_sample_vectors")
    wrap(graph, "bounded_sample_vectors", "sampling.bounded_sample_vectors")
    wrap(kmeans, "lloyd", "kmeans.lloyd")
    wrap(kmeans, "hierarchical", "kmeans.hierarchical")
    wrap(kernels, "rotate", "kernels.rotate")
    wrap(kernels, "binary_lut", "kernels.binary_lut")
