"""Outside-in tracer: spans around the benchmark's calls into the engine,
plus Spark status-store counters for the jobs each call ran.

A span is (id, name, start, end, parent, request). Spark counters are read
per job group: a traced call runs under its own group, and after the call
the tracer waits for the listener bus to drain and sums the group's jobs and
stages. Each job becomes a child span of the call, so a call's self time
(duration minus the time its children cover) is the part of its wall time
that no Spark job covers.

With tracing off every method is a no-op. Spans stay in memory and are
written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

COUNTERS = ("spark_jobs", "spark_tasks", "executor_cpu_s", "gc_s", "input_rows",
            "shuffle_mb", "failed_tasks")


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    request: int | None = None
    counters: dict = field(default_factory=dict)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext if self.enabled else None

    def _new(self, name: str, request: int | None) -> Span:
        s = Span(len(self.spans), name, time.time(), 0.0,
                 self._stack[-1] if self._stack else None, request)
        self.spans.append(s)
        return s

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None, spark: bool = False):
        """Time the enclosed call. With ``spark``, run it under its own job
        group and attach the group's Spark counters and job spans."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        s = self._new(name, request)
        self._stack.append(s.id)
        group = f"perfbench-{s.id}"
        if spark and self._sc is not None:
            self._sc.setJobGroup(group, name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            s.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            if spark and self._sc is not None:
                self._sc.setJobGroup("perfbench-none", "untraced")
                self._read_group(s, group)
            self.overhead_s += time.perf_counter() - t1

    def _read_group(self, s: Span, group: str) -> None:
        sc = self._sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        c = dict.fromkeys(COUNTERS, 0.0)
        seen: set[int] = set()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            c["spark_jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                j = self._new("spark.job", s.request)
                j.parent = s.id
                j.start = job.submissionTime().get().getTime() / 1e3
                j.end = job.completionTime().get().getTime() / 1e3
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                c["spark_tasks"] += st.numTasks()
                c["failed_tasks"] += st.numFailedTasks()
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["input_rows"] += st.inputRecords()
                c["shuffle_mb"] += st.shuffleWriteBytes() / 2**20
        s.counters.update(c)

    def count(self, name: str, value: float = 1.0) -> None:
        """Add to a counter on the innermost open span."""
        if self.enabled and self._stack:
            c = self.spans[self._stack[-1]].counters
            c[name] = c.get(name, 0.0) + value

    @contextlib.contextmanager
    def counting(self, cls, method: str):
        """Count calls of ``cls.method`` made inside the block, on the
        innermost open span (e.g. DataFrame.localCheckpoint, once per
        label-propagation round of dedup_clusters)."""
        if not self.enabled:
            yield
            return
        orig = getattr(cls, method)

        def wrapped(*a, **kw):
            self.count(method)
            return orig(*a, **kw)

        setattr(cls, method, wrapped)
        try:
            yield
        finally:
            setattr(cls, method, orig)

    def self_times(self) -> dict[int, float]:
        """{span id: duration minus the time its child spans cover}."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for k in self.spans:
            if k.parent is not None:
                kids.setdefault(k.parent, []).append((k.start, k.end))
        return {
            s.id: (s.end - s.start) - covered(kids.get(s.id, []), s.start, s.end)
            for s in self.spans
        }

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
