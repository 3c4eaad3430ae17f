"""Tracing for the per-layer run.

A :class:`Tracer` wraps every measured operation in one Spark job
group and one root span, and wraps the package's layer entry points in
child spans, from this file only (the package is not edited). After an
operation it reads, outside the timed interval:

* the jobs of its group and their stages from Spark's status store
  (wall times, tasks, task run time, shuffle, spill, records);
* Catalyst phase times of every DataFrame action taken inside it, and
  the SQL metrics of the Python-evaluation plan nodes those actions
  ran;
* which warehouse metadata files it rewrote, and how many bytes.

Spans stay in memory and are written as JSON lines by :meth:`dump`.
:class:`NullTracer` is the untraced stand-in: it only times.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

#: package callables wrapped in a child span, by layer (module path,
#: attribute path); a class attribute path wraps that method
LAYER_ENTRY_POINTS = {
    "sink": [
        ("quasar_destination_h2_spark.sources.sink", "load_csv_with_fallback"),
        ("quasar_destination_h2_spark.sources.sink", "prepare_replace"),
        ("quasar_destination_h2_spark.sources.sink", "CsvCreateSink._spool"),
    ],
    "meta": [
        ("quasar_destination_h2_spark.sources.sink", "CsvCreateSink._persist_catalog"),
        ("quasar_destination_h2_spark.sources.sink", "CsvCreateSink._read_disk_catalog"),
        ("quasar_destination_h2_spark.engine", "Engine.refresh_information_schema"),
        ("quasar_destination_h2_spark.sequences", "Sequences.*"),
        ("quasar_destination_h2_spark.schemas", "Schemas.*"),
        ("quasar_destination_h2_spark.constraints", "Constraints.*"),
        ("quasar_destination_h2_spark.views", "Views.*"),
        ("quasar_destination_h2_spark.colmeta", "ColumnMeta.*"),
    ],
    "stmt": [
        ("quasar_destination_h2_spark.engine", "Engine.execute_sql"),
    ],
    "index": [
        ("quasar_destination_h2_spark.engine", f"Engine.{m}")
        for m in (
            "build_ivf_index", "append_to_ivf_index", "ann_topk",
            "build_text_index", "text_search", "build_cascade_index",
            "cascade_search",
        )
    ] + [
        ("quasar_destination_h2_spark.operators.similarity", "*"),
        ("quasar_destination_h2_spark.operators.text", "*"),
        ("quasar_destination_h2_spark.operators.iterate", "*"),
    ],
    "arrow": [
        ("quasar_destination_h2_spark.operators.pandas_udfs", "*"),
        ("quasar_destination_h2_spark.operators.packing", "*"),
        ("quasar_destination_h2_spark.operators.multimodal", "*"),
    ],
}

#: executed-plan node names of Python evaluation (Arrow boundary)
PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")
PYTHON_NODE_EXCLUDE = ("ArrowToColumnar", "ColumnarToRow", "RowToColumnar")


@dataclass
class Span:
    span_id: int
    parent: int | None
    op_id: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0


@dataclass
class OpTrace:
    """What the status store and the wrappers saw for one operation."""

    jobs: list = field(default_factory=list)  # (job id, start s, end s, status)
    stages: int = 0
    tasks: int = 0
    task_run_ms: float = 0.0
    input_records: int = 0
    output_records: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    phases_ms: dict = field(default_factory=dict)  # catalyst phase -> ms
    python_bytes_sent: int = 0
    python_rows_received: int = 0
    meta_files: int = 0
    meta_bytes: int = 0
    csv_reads: int = 0
    multiline_reads: int = 0

    @property
    def job_wall_ms(self) -> float:
        return sum((e - s) * 1000.0 for _, s, e, _ in self.jobs)

    def union_job_ms(self, lo: float, hi: float) -> float:
        """Time in [lo, hi] covered by at least one job, in ms."""
        spans = sorted((max(s, lo), min(e, hi)) for _, s, e, _ in self.jobs)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total * 1000.0


class NullTracer:
    """Untraced runs: time the operation and nothing else."""

    def begin_op(self, op_id: int, label: str) -> None:
        pass

    def end_op(self, op_id: int, start: float, end: float) -> OpTrace | None:
        return None

    def close(self) -> None:
        pass


class Tracer:
    def __init__(self, spark, warehouse: str):
        self.sc = spark.sparkContext
        self.warehouse = warehouse
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op: OpTrace | None = None
        self._op_id: int | None = None
        self._meta_before: dict = {}
        self._undo: list = []
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        # wall-clock offset: the status store stamps jobs with epoch ms
        self._epoch_minus_perf = time.time() - time.perf_counter()
        self._install()

    # ---- spans ---------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open_span(self, name: str, layer: str) -> Span:
        stack = self._stack()
        sp = Span(next(self._ids), stack[-1].span_id if stack else None,
                  self._op_id, name, layer, time.perf_counter())
        stack.append(sp)
        return sp

    def close_span(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        self.spans.append(sp)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if tracer._op_id is None:
                return fn(*args, **kwargs)
            sp = tracer.open_span(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close_span(sp)

        # PySpark checks a grouped-map function's arity from its signature
        wrapped.__signature__ = inspect.signature(fn)
        return wrapped

    def _patch(self, owner, attr: str, new) -> None:
        old = owner.__dict__[attr]
        self._undo.append((owner, attr, old))
        setattr(owner, attr, new)

    def _install(self) -> None:
        for layer, points in LAYER_ENTRY_POINTS.items():
            for mod_name, path in points:
                mod = importlib.import_module(mod_name)
                owner_path, _, attr = path.rpartition(".")
                owner = mod
                for part in filter(None, owner_path.split(".")):
                    owner = getattr(owner, part)
                for name in self._targets(owner, attr, mod_name):
                    raw = owner.__dict__[name]
                    label = ".".join(filter(None, (
                        mod_name.rsplit(".", 1)[-1], owner_path, name)))
                    if isinstance(raw, staticmethod):
                        new = staticmethod(self._wrap(raw.__func__, label, layer))
                    elif isinstance(raw, (classmethod, property)):
                        continue
                    else:
                        new = self._wrap(raw, label, layer)
                    self._patch(owner, name, new)
        self._install_actions()
        self._install_csv_counter()

    @staticmethod
    def _targets(owner, attr: str, mod_name: str) -> list[str]:
        if attr != "*":
            return [attr]
        out = []
        for name, val in vars(owner).items():
            if name.startswith("__"):
                continue
            fn = val.__func__ if isinstance(val, staticmethod) else val
            # plain functions only (not UDF objects); module wildcards
            # take the module's own functions, not its imports
            if inspect.isfunction(fn) and (
                isinstance(owner, type) or fn.__module__ == mod_name
            ):
                out.append(name)
        return out

    def _install_actions(self) -> None:
        """Wrap DataFrame actions so Catalyst phases and Python-node
        SQL metrics of every action inside an operation are read."""
        from pyspark.sql.classic.dataframe import DataFrame

        tracer = self
        for name in ("collect", "count", "toPandas"):
            fn = DataFrame.__dict__[name]

            def make(fn):
                @functools.wraps(fn)
                def action(df, *args, **kwargs):
                    depth = getattr(tracer._local, "action_depth", 0)
                    tracer._local.action_depth = depth + 1
                    try:
                        return fn(df, *args, **kwargs)
                    finally:
                        tracer._local.action_depth = depth
                        if depth == 0 and tracer._op is not None:
                            tracer._read_query_execution(df)

                return action

            self._patch(DataFrame, name, make(fn))

    def _install_csv_counter(self) -> None:
        """Count the sink's CSV scans, and the multiLine re-scans."""
        from quasar_destination_h2_spark.sources import sink as sink_mod

        tracer = self
        read_csv = sink_mod.read_csv

        @functools.wraps(read_csv)
        def counted(*args, **kwargs):
            if tracer._op is not None:
                tracer._op.csv_reads += 1
                if kwargs.get("multiLine") == "true":
                    tracer._op.multiline_reads += 1
            return read_csv(*args, **kwargs)

        self._patch(sink_mod, "read_csv", counted)

    def close(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()

    # ---- per-operation collection --------------------------------------

    def begin_op(self, op_id: int, label: str) -> None:
        self._meta_before = self._meta_snapshot()
        self.sc.setJobGroup(f"perfbench-{op_id}", label)
        self._op = OpTrace()
        self._op_id = op_id
        self._root = self.open_span(label, "op")

    def end_op(self, op_id: int, start: float, end: float) -> OpTrace:
        self.close_span(self._root)
        self._root.start, self._root.end = start, end
        op, self._op, self._op_id = self._op, None, None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._bus.waitUntilEmpty()
        for jid in self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{op_id}"):
            self._read_job(op, jid)
        after = self._meta_snapshot()
        for path, sig in after.items():
            if self._meta_before.get(path) != sig:
                op.meta_files += 1
                op.meta_bytes += sig[1]
        return op

    def _read_job(self, op: OpTrace, jid: int) -> None:
        jd = self._store.job(jid)
        sub, done = jd.submissionTime(), jd.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            return
        off = self._epoch_minus_perf
        op.jobs.append((
            jid, sub.get().getTime() / 1000.0 - off,
            done.get().getTime() / 1000.0 - off, jd.status().toString(),
        ))
        ids = jd.stageIds()
        for i in range(ids.size()):
            try:
                sd = self._store.lastStageAttempt(ids.apply(i))
            except Exception:  # never-submitted (skipped) stage
                continue
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            op.stages += 1
            op.tasks += sd.numTasks()
            op.task_run_ms += sd.executorRunTime()
            op.input_records += sd.inputRecords()
            op.output_records += sd.outputRecords()
            op.output_bytes += sd.outputBytes()
            op.shuffle_read_bytes += sd.shuffleReadBytes()
            op.shuffle_write_bytes += sd.shuffleWriteBytes()
            op.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    def _read_query_execution(self, df) -> None:
        op = self._op
        try:
            qe = df._jdf.queryExecution()
            phases = qe.tracker().phases()
            for name in ("analysis", "optimization", "planning"):
                ph = phases.get(name)
                if ph.isDefined():
                    op.phases_ms[name] = op.phases_ms.get(name, 0.0) + ph.get().durationMs()
            self._walk_plan(qe.executedPlan(), op, set())
        except Exception:  # a plan the walk cannot read: no counters
            pass

    def _walk_plan(self, node, op: OpTrace, seen: set) -> None:
        key = node.hashCode()
        if key in seen:
            return
        seen.add(key)
        name = node.nodeName()
        if any(m in name for m in PYTHON_NODE_MARKERS) and not any(
            x in name for x in PYTHON_NODE_EXCLUDE
        ):
            metrics = node.metrics()
            for mname, attr in (("pythonDataSent", "python_bytes_sent"),
                                ("pythonNumRowsReceived", "python_rows_received")):
                m = metrics.get(mname)
                if m.isDefined():
                    setattr(op, attr, getattr(op, attr) + m.get().value())
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            self._walk_plan(node.executedPlan(), op, seen)
        elif cls.endswith("QueryStageExec"):
            self._walk_plan(node.plan(), op, seen)
        kids = node.children()
        for i in range(kids.size()):
            self._walk_plan(kids.apply(i), op, seen)
        subs = node.subqueries()
        for i in range(subs.size()):
            self._walk_plan(subs.apply(i), op, seen)

    def _meta_snapshot(self) -> dict:
        """Signature of every warehouse metadata file: the registry
        files at the warehouse root and the catalog table's files.
        Lock files are excluded; their truncation writes no content."""
        out = {}
        root = self.warehouse
        try:
            entries = list(os.scandir(root))
        except FileNotFoundError:
            return out
        for e in entries:
            if e.is_file() and not e.name.endswith(".lock"):
                st = e.stat()
                out[e.path] = (st.st_mtime_ns, st.st_size, st.st_ino)
        cat = os.path.join(root, "h2spark_catalog")
        if os.path.isdir(cat):
            for e in os.scandir(cat):
                if e.is_file():
                    st = e.stat()
                    out[e.path] = (st.st_mtime_ns, st.st_size, st.st_ino)
        return out

    # ---- output --------------------------------------------------------

    def self_ms(self) -> dict:
        """Per-layer self time (span duration minus the part its child
        spans cover), summed per (op id, layer)."""
        child_ms: dict = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_ms[sp.parent] = child_ms.get(sp.parent, 0.0) + (sp.end - sp.start)
        out: dict = {}
        for sp in self.spans:
            own = (sp.end - sp.start) - child_ms.get(sp.span_id, 0.0)
            key = (sp.op_id, sp.layer)
            out[key] = out.get(key, 0.0) + own * 1000.0
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp.__dict__) + "\n")
