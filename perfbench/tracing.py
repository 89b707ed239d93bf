"""Spans, counters and engine statistics for the traced run.

Spans are recorded by the benchmark's own code around each call into a
layer of the package (name, start, end, parent, run id), kept in
memory and written out when the run ends. Operator entry points are
wrapped in place before ``plans.load_all()``: plan modules bind names
such as ``connected_components`` at import time, so a later wrap would
miss their calls.

Engine numbers come from Spark's status store: the benchmark notes the
scheduler's job counter around each phase of each request, and the
stages of the jobs in that id range are summed after the listener bus
has drained. Jobs run by a streaming query's own thread fall in the
range of the phase that waited for them.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    run_id: str
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name`` or named below
        it (``name.<anything>``)."""
        return sum(s.end - s.start for s in self.spans if _under(s.name, name))

    def count(self, name: str) -> float:
        return self.counts.get(name, 0)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part covered by its child spans,
        summed per span name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def _under(name: str, prefix: str) -> bool:
    return name == prefix or name.startswith(prefix + ".")


# Operator entry points the traced run wraps. ``lineage`` goes first:
# ``operators.dedup`` binds ``cut_lineage`` when it is imported.
OPERATORS = (
    ("lineage", "cut_lineage"),
    ("dedup", "connected_components"),
)


def wrap_operators(tracer: Tracer, engine: "Engine") -> None:
    """Replace each operator entry point with a wrapper that records a
    span, the call and the Spark jobs launched inside it."""
    for mod_name, fn_name in OPERATORS:
        mod = importlib.import_module(f"ojo_daps_mirror_spark.operators.{mod_name}")
        fn = getattr(mod, fn_name)
        label = f"operators.{mod_name}.{fn_name}"
        prefix = f"operators.{mod_name}"

        def wrapper(*args, __fn=fn, __label=label, __prefix=prefix, **kwargs):
            if not tracer.enabled:
                return __fn(*args, **kwargs)
            jobs0 = engine.job_count()
            with tracer.span(__label):
                out = __fn(*args, **kwargs)
            tracer.add(f"{__prefix}.calls", 1)
            tracer.add(f"{__prefix}.jobs", engine.job_count() - jobs0)
            return out

        functools.update_wrapper(wrapper, fn)
        setattr(mod, fn_name, wrapper)


STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes": "diskBytesSpilled",
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
}


class Engine:
    """Reads job and stage statistics from the Spark status store."""

    def __init__(self) -> None:
        self.spark = None

    def attach(self, spark) -> None:
        self.spark = spark

    def job_count(self) -> int:
        """Number of jobs this application has submitted so far (the
        scheduler's own counter, so no listener lag)."""
        if self.spark is None:
            return 0
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def stats(self, first: int, end: int) -> dict[str, int]:
        """Jobs, stages and summed stage metrics of jobs ``first`` to
        ``end - 1``. Skipped stages (shuffle output reused) count as no
        work."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        no_tasks = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        tracker = sc.statusTracker()
        st = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
        for jid in range(first, end):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            st["jobs"] += 1
            for sid in info.stageIds:
                try:
                    attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
                except Py4JJavaError:  # stage evicted from the store
                    continue
                for i in range(attempts.size()):
                    data = attempts.apply(i)
                    if str(data.status()) == "SKIPPED":
                        continue
                    st["stages"] += 1
                    for k, getter in STAGE_FIELDS.items():
                        st[k] += int(getattr(data, getter)())
        return st
