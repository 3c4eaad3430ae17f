"""Per-layer metrics of a traced phase.

Every metric is reported for every workload; a layer a workload never
enters reads 0 (the "predicted no change" rows). Medians are over
operations; byte and row counters are means per operation unless the
name says otherwise.
"""

from __future__ import annotations

from . import stats

PUSH_CLASSES = ("push_small", "push_bulk")

#: (name, unit) of every per-layer metric, in report order
METRICS = [
    ("sink.jobs_per_push", "count"),
    ("sink.outside_jobs_ms", "ms"),
    ("sink.bytes_written_per_user_byte", "ratio"),
    ("sink.fallback_rescan_share", "share"),
    ("sink.self_ms", "ms"),
    ("meta.files_rewritten_per_op", "count"),
    ("meta.bytes_written_per_op", "B"),
    ("meta.self_ms", "ms"),
    ("stmt.front_ms", "ms"),
    ("stmt.self_ms", "ms"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimize_ms", "ms"),
    ("catalyst.plan_ms", "ms"),
    ("py.driver_cpu_ms", "ms"),
    ("spark.jobs_per_op", "count"),
    ("spark.jobs_per_op_iqr", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.job_wall_ms", "ms"),
    ("spark.outside_jobs_ms", "ms"),
    ("exec.slot_use", "share"),
    ("exec.task_run_ms", "ms"),
    ("exec.shuffle_read_bytes", "B"),
    ("exec.shuffle_write_bytes", "B"),
    ("exec.spill_bytes", "B"),
    ("exec.rows_read_per_row_out", "ratio"),
    ("index.probe_jobs", "count"),
    ("index.probe_jobs_iqr", "count"),
    ("index.first_probe_extra_jobs", "count"),
    ("index.append_ms", "ms"),
    ("index.self_ms", "ms"),
    ("arrow.bytes_to_python", "B"),
    ("arrow.rows_from_python", "count"),
    ("arrow.self_ms", "ms"),
    ("trace.untraced_ops_per_s", "ops/s"),
    ("trace.traced_ops_per_s", "ops/s"),
    ("trace.overhead_share", "share"),
]


def _median(xs) -> float:
    return stats.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _iqr(xs) -> float:
    return stats.percentile(xs, 75) - stats.percentile(xs, 25) if xs else 0.0


def compute(traced, warm, tracer, cores: int, untraced_ops_per_s: float,
            traced_ops_per_s: float) -> dict:
    """``traced``: records of the traced phase; ``warm``: the traced
    warm-up cycle (first probe after a build); ``tracer``: the
    :class:`~perfbench.trace.Tracer` that recorded both."""
    ops = [r for r in traced if r.trace is not None]
    self_ms = tracer.self_ms()
    stmt_spans: dict = {}
    for sp in tracer.spans:
        if sp.layer == "stmt":
            stmt_spans.setdefault(sp.op_id, []).append((sp.start, sp.end))
    out = {name: 0.0 for name, _ in METRICS}

    def outside_ms(r) -> float:
        return max(0.0, r.ms - r.trace.union_job_ms(r.start, r.end))

    pushes = [r for r in ops if r.cls in PUSH_CLASSES]
    out["sink.jobs_per_push"] = _median([len(r.trace.jobs) for r in pushes])
    out["sink.outside_jobs_ms"] = _median([outside_ms(r) for r in pushes])
    user = sum(r.info["user_bytes"] for r in pushes)
    if user:
        written = sum(
            r.info["user_bytes"] + r.trace.output_bytes + r.trace.meta_bytes
            for r in pushes
        )
        out["sink.bytes_written_per_user_byte"] = written / user
        out["sink.fallback_rescan_share"] = (
            sum(1 for r in pushes if r.trace.multiline_reads) / len(pushes)
        )

    for layer in ("sink", "meta", "stmt", "index", "arrow"):
        out[f"{layer}.self_ms"] = _mean(
            [self_ms.get((r.op_id, layer), 0.0) for r in ops]
        )
    out["meta.files_rewritten_per_op"] = _mean([r.trace.meta_files for r in ops])
    out["meta.bytes_written_per_op"] = _mean([r.trace.meta_bytes for r in ops])

    # the statement layer's own time: execute_sql calls minus the Spark
    # jobs they ran and the Catalyst analysis they triggered
    statements = [r for r in ops if r.op_id in stmt_spans]
    out["stmt.front_ms"] = _median([
        max(0.0, sum(
            (e - s) * 1000.0 - r.trace.union_job_ms(s, e)
            for s, e in stmt_spans[r.op_id]
        ) - r.trace.phases_ms.get("analysis", 0.0))
        for r in statements
    ])
    for key, phase in (("analysis_ms", "analysis"), ("optimize_ms", "optimization"),
                       ("plan_ms", "planning")):
        out[f"catalyst.{key}"] = _median(
            [r.trace.phases_ms.get(phase, 0.0) for r in statements]
        )
    out["py.driver_cpu_ms"] = _median([r.cpu_s * 1000.0 for r in ops])

    jobs = [len(r.trace.jobs) for r in ops]
    out["spark.jobs_per_op"] = _median(jobs)
    out["spark.jobs_per_op_iqr"] = _iqr(jobs)
    out["spark.stages_per_op"] = _median([r.trace.stages for r in ops])
    out["spark.tasks_per_op"] = _median([r.trace.tasks for r in ops])
    out["spark.job_wall_ms"] = _median([r.trace.job_wall_ms for r in ops])
    out["spark.outside_jobs_ms"] = _median([outside_ms(r) for r in ops])
    busy = sum(r.trace.union_job_ms(r.start, r.end) for r in ops)
    if busy:
        out["exec.slot_use"] = sum(r.trace.task_run_ms for r in ops) / (busy * cores)
    out["exec.task_run_ms"] = _median([r.trace.task_run_ms for r in ops])
    out["exec.shuffle_read_bytes"] = _mean([r.trace.shuffle_read_bytes for r in ops])
    out["exec.shuffle_write_bytes"] = _mean([r.trace.shuffle_write_bytes for r in ops])
    out["exec.spill_bytes"] = _mean([r.trace.spill_bytes for r in ops])
    rows_out = sum(r.info.get("rows_out", 0) + r.trace.output_records for r in ops)
    if rows_out:
        out["exec.rows_read_per_row_out"] = (
            sum(r.trace.input_records for r in ops) / rows_out
        )

    probes = [r for r in ops if r.cls == "probe"]
    probe_jobs = [len(r.trace.jobs) for r in probes]
    out["index.probe_jobs"] = _median(probe_jobs)
    out["index.probe_jobs_iqr"] = _iqr(probe_jobs)
    extra = 0.0
    for template in sorted({r.template for r in probes}):
        first = next((r for r in warm if r.cls == "probe" and r.template == template
                      and r.trace is not None), None)
        steady = [len(r.trace.jobs) for r in probes if r.template == template]
        if first is not None and steady:
            extra += len(first.trace.jobs) - stats.median(steady)
    out["index.first_probe_extra_jobs"] = extra
    out["index.append_ms"] = _median([r.ms for r in ops if r.cls == "append"])

    entries = [r for r in ops if r.cls == "entry"]
    out["arrow.bytes_to_python"] = _mean([r.trace.python_bytes_sent for r in entries])
    out["arrow.rows_from_python"] = _mean([r.trace.python_rows_received for r in entries])

    out["trace.untraced_ops_per_s"] = untraced_ops_per_s
    out["trace.traced_ops_per_s"] = traced_ops_per_s
    if untraced_ops_per_s:
        out["trace.overhead_share"] = 1.0 - traced_ops_per_s / untraced_ops_per_s
    return out
