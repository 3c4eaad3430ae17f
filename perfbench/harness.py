"""The closed loop: one client issues one operation at a time and
waits for it before issuing the next.

A workload supplies its operations a cycle at a time; every cycle has
the same class and template mix, and the seed only chooses order,
keys, ranges, sizes and probe inputs. A phase runs whole cycles until
its time is spent, so the mix of a phase never depends on where the
clock ran out.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from . import stats


@dataclass
class Op:
    cls: str  # op class, e.g. "lookup"
    template: str  # statement or call shape within the class
    run: Callable[[], object]  # the timed call; returns what the check reads
    info: dict = field(default_factory=dict)
    # untimed, right after a successful call: reads the state the call
    # left (e.g. the table a push replaced) into ``info["observed"]``
    observe: Callable[[], object] | None = None


@dataclass
class Record:
    op_id: int
    phase: str  # "warm", "measure" or "traced"
    cls: str
    template: str
    start: float
    end: float
    cpu_s: float
    result: object
    error: str | None
    info: dict
    trace: object = None  # trace.OpTrace in the traced phase

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    @property
    def ok(self) -> bool:
        return self.error is None


class Loop:
    def __init__(self, tracer_for_phase: Callable[[str], object]):
        self._tracer_for_phase = tracer_for_phase
        self.records: list[Record] = []
        self._next_id = 0
        self._observe_s = 0.0  # time spent in observe hooks, kept off the phase clock

    def run_op(self, op: Op, phase: str) -> Record:
        tracer = self._tracer_for_phase(phase)
        op_id = self._next_id
        self._next_id += 1
        tracer.begin_op(op_id, f"{op.cls}:{op.template}")
        cpu0, t0 = time.process_time(), time.perf_counter()
        try:
            result, error = op.run(), None
        except Exception as ex:  # the loop goes on; the op counts as failed
            result, error = None, f"{type(ex).__name__}: {str(ex)[:400]}"
        t1, cpu1 = time.perf_counter(), time.process_time()
        trace = tracer.end_op(op_id, t0, t1)
        if op.observe is not None and error is None:
            t2 = time.perf_counter()
            try:
                op.info["observed"] = op.observe()
            except Exception as ex:
                error = f"observe: {type(ex).__name__}: {str(ex)[:400]}"
            self._observe_s += time.perf_counter() - t2
        rec = Record(op_id, phase, op.cls, op.template, t0, t1, cpu1 - cpu0,
                     result, error, op.info, trace)
        self.records.append(rec)
        return rec

    def run_phase(self, next_cycle: Callable[[], list], phase: str,
                  seconds: float) -> float:
        """Run whole cycles until ``seconds`` have passed (at least
        one cycle); return the phase's wall time less its observe
        hooks."""
        t0, observed0 = time.perf_counter(), self._observe_s

        def elapsed() -> float:
            return time.perf_counter() - t0 - (self._observe_s - observed0)

        while True:
            for op in next_cycle():
                self.run_op(op, phase)
            if elapsed() >= seconds:
                return elapsed()

    def phase(self, phase: str) -> list[Record]:
        return [r for r in self.records if r.phase == phase]


def template_geomean_ms(records: list[Record], cls: str) -> float | None:
    """Geometric mean over the class's templates of each template's
    median latency — insensitive to how many of each template a run
    drew."""
    by_template: dict = {}
    for r in records:
        if r.cls == cls and r.ok:
            by_template.setdefault(r.template, []).append(r.ms)
    if not by_template:
        return None
    return stats.geomean([stats.median(v) for v in by_template.values()])


def class_percentile_ms(records: list[Record], cls: str, q: float):
    """(percentile or None, sample count); None when fewer than
    ``stats.TAIL_SAMPLES`` samples lie beyond the percentile."""
    xs = [r.ms for r in records if r.cls == cls and r.ok]
    if not xs or (q > 50 and not stats.tail_percentile_ok(len(xs), q)):
        return None, len(xs)
    return stats.percentile(xs, q), len(xs)
