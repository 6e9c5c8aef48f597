"""Timing of the engine's layers from outside the package.

The engine takes any ``SketchSpec`` and ``Extractor`` as its public
``spec``/``extractor`` arguments, so the traced run passes in the
subclasses below. They call the parent implementation unchanged (states
stay byte-identical; ``tests/test_tracing.py`` pins this) and add each
call's item count and wall time to a sink: a Spark accumulator in the
benchmark, a :class:`DictSum` in tests. Sink keys are
``(stage_id, name)``; stage ``DRIVER_STAGE`` is the driver, so the
event-log attribution can subtract worker kernel time from the stage that
spent it.

:class:`Spans` times each public call of one op on the driver and runs it
under its own Spark job group, which ties the call's jobs in the event log
back to it.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark import AccumulatorParam, TaskContext

from exaloglog_paper_spark.ops.agg import ExaLogLogSpec, Extractor

DRIVER_STAGE = -1


def add_into(acc: dict, term: dict) -> dict:
    for k, v in term.items():
        acc[k] = acc.get(k, 0) + v
    return acc


class DictSumParam(AccumulatorParam):
    """Accumulator of ``{key: number}`` dicts, summed per key."""

    def zero(self, value):
        return {}

    def addInPlace(self, value1, value2):
        return add_into(value1, value2)


class DictSum:
    """In-process sink with the accumulator's ``add``/``value`` surface."""

    def __init__(self):
        self.value: dict = {}

    def add(self, term: dict) -> None:
        add_into(self.value, term)


def _stage_id() -> int:
    tc = TaskContext.get()
    return tc.stageId() if tc is not None else DRIVER_STAGE


class TaskClock:
    """End time of the last timed call in this task.

    A spec and an extractor pickled into one task closure share one clock,
    and unpickling (which the Python worker does as the task starts) resets
    it. The gap between the last timed call and the next extractor call is
    the time the next input batch took to arrive: the source layer's
    parquet read and decode.
    """

    def __init__(self):
        self.last = time.perf_counter()

    def __reduce__(self):
        return (TaskClock, ())


class TracedExaLogLogSpec(ExaLogLogSpec):
    """``ExaLogLogSpec`` that records calls, items and seconds per kernel op."""

    def __init__(self, sink, t: int = 2, d: int = 20, p: int = 10, clock=None):
        super().__init__(t, d, p)
        self.sink = sink
        self.clock = clock if clock is not None else TaskClock()
        self._depth = 0

    def _timed(self, op: str, n: int, fn, *args):
        # batch methods may fall back to the scalar ones: count the outer
        # call only, so no second is counted twice
        if self._depth:
            return fn(*args)
        self._depth += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        finally:
            self._depth -= 1
        t1 = time.perf_counter()
        self.clock.last = t1
        sid = _stage_id()
        self.sink.add({(sid, f"{op}_calls"): 1, (sid, f"{op}_n"): n, (sid, f"{op}_s"): t1 - t0})
        return out

    def add(self, state, values):
        return self._timed("add", len(values), super().add, state, values)

    def merge(self, a, b):
        return self._timed("merge", 2, super().merge, a, b)

    def merge_many(self, states):
        # callers pass a generator of deserialize calls: drain it first so
        # deserialize time is not also counted as merge time
        states = list(states)
        return self._timed("merge", len(states), super().merge_many, states)

    def serialize(self, state):
        return self._timed("serialize", 1, super().serialize, state)

    def serialize_batch(self, states):
        states = list(states)
        return self._timed("serialize", len(states), super().serialize_batch, states)

    def deserialize(self, data):
        return self._timed("deserialize", 1, super().deserialize, data)

    def finalize(self, state):
        return self._timed("estimate", 1, super().finalize, state)

    def finalize_batch(self, states):
        states = list(states)
        return self._timed("estimate", len(states), super().finalize_batch, states)


class TracedExtractor(Extractor):
    """Wraps an extractor; records calls and seconds, and the decode gap."""

    def __init__(self, inner: Extractor, sink, clock: TaskClock):
        self.inner = inner
        self.input_cols = inner.input_cols
        self.sink = sink
        self.clock = clock

    def __call__(self, batch):
        t0 = time.perf_counter()
        decode = t0 - self.clock.last
        out = self.inner(batch)
        t1 = time.perf_counter()
        self.clock.last = t1
        sid = _stage_id()
        self.sink.add({(sid, "extract_calls"): 1, (sid, "extract_s"): t1 - t0, (sid, "decode_s"): decode})
        return out


@dataclass
class Span:
    name: str
    group: str
    module: str
    builds_df: bool
    t0: float
    t1: float
    driver_kernel_s: float


@dataclass
class Spans:
    """Driver-side spans of one traced op.

    ``module`` names the package module the call belongs to; it owns the
    call's Spark stages that run no Python operator and, unless the call
    only builds a DataFrame (``builds_df``), the call's driver time outside
    Spark jobs. A DataFrame-building call's driver time is plan
    construction and its jobs are eager jobs.
    """

    sc: object
    op: int
    sink: object
    spans: list = field(default_factory=list)

    def __call__(self, name: str, module: str, builds_df: bool, fn, *args, **kw):
        group = f"perfbench-op{self.op}-c{len(self.spans)}-{name}"
        self.sc.setJobGroup(group, name)
        k0 = driver_kernel_s(self.sink.value)
        t0 = time.time()
        try:
            return fn(*args, **kw)
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(Span(name, group, module, builds_df, t0, t1, driver_kernel_s(self.sink.value) - k0))


def diff(after: dict, before: dict) -> dict:
    return {k: v - before.get(k, 0) for k, v in after.items() if v != before.get(k, 0)}


def driver_kernel_s(values: dict) -> float:
    return sum(v for (sid, k), v in values.items() if sid == DRIVER_STAGE and k.endswith("_s") and k != "decode_s")


def plain_call(name, module, builds_df, fn, *args, **kw):
    """Untraced stand-in for :class:`Spans`: just the call."""
    return fn(*args, **kw)
