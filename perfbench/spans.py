"""Spans, self time, Spark status-store counters and summary statistics.

The traced run wraps the package functions the benchmark reaches (module
attributes, restored afterwards) so every call becomes a span; nothing in
the package itself is edited. Spans stay in memory and are written once,
when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import time
from dataclasses import asdict, dataclass, field


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolation percentile (numpy's default), ``q`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
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


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    counters: dict = field(default_factory=dict)


# Stage fields summed per call: (counter name, StageData getter, scale).
_STAGE_FIELDS = [
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("output_bytes", "outputBytes", 1),
]


class SparkCounters:
    """Per-call deltas from the driver's ``AppStatusStore``.

    The store keeps only the newest 1000 jobs and stages, so deltas are read
    around each call rather than once at the end of the run. Both listings
    come newest-first, so a delta walks from the head down to the last id
    seen before the call."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _sync(self) -> None:
        # listener events reach the store asynchronously
        self._sc.listenerBus().waitUntilEmpty()

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def mark(self) -> tuple[int, int]:
        """(last job id, last stage id) seen so far."""
        self._sync()
        jobs, stages = self._store.jobsList(None), self._stages()
        last_job = jobs.apply(0).jobId() if jobs.size() else -1
        last_stage = stages.apply(0).stageId() if stages.size() else -1
        return last_job, last_stage

    def since(self, mark: tuple[int, int]) -> dict:
        """Counters of the jobs and stages that started after ``mark``."""
        self._sync()
        last_job, last_stage = mark
        jobs = self._store.jobsList(None)
        n_jobs = 0
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= last_job:
                break
            n_jobs += 1
        out = {"jobs": n_jobs, "stages": 0, "tasks": 0}
        out.update({name: 0 for name, _, _ in _STAGE_FIELDS})
        stages = self._stages()
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= last_stage:
                break
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            for name, getter, scale in _STAGE_FIELDS:
                out[name] += getattr(st, getter)() * scale
        return out


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every method a
    pass-through, so the untraced run executes the same benchmark code."""

    def __init__(self, enabled: bool, counters: SparkCounters | None = None):
        self.enabled = enabled
        self.counters = counters
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._wrapped: list[tuple[object, str, object]] = []
        self.op = ""

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        mark = self.counters.mark() if self.counters else None
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        span = Span(sid, name, 0.0, 0.0, parent, self.op)
        self.spans.append(span)
        self._stack.append(sid)
        span.start = time.perf_counter()
        self.overhead_s += span.start - t0
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if mark is not None:
                span.counters = self.counters.since(mark)
            self.overhead_s += time.perf_counter() - span.end

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned wrapper (until restore)."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._wrapped.append((module, attr, fn))
        setattr(module, attr, traced)

    def restore(self) -> None:
        while self._wrapped:
            module, attr, fn = self._wrapped.pop()
            setattr(module, attr, fn)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        return {
            s.span_id: (s.end - s.start) - covered(children.get(s.span_id, []))
            for s in self.spans
        }

    def per_op(self, names, ops: list[str]) -> list[float]:
        """Per op in ``ops``: summed self time of the spans whose name is in
        ``names``."""
        st = self.self_times()
        tot = {op: 0.0 for op in ops}
        for s in self.spans:
            if s.name in names and s.op in tot:
                tot[s.op] += st[s.span_id]
        return [tot[op] for op in ops]

    def dump(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self_s": st[s.span_id]}) + "\n")
